"""Derive a synthetic 10x scale dir from an existing sf dir for TIMING runs.

The driver's round-end measurement escalates to sf1.0 with its own
generator; that data is not available locally, so optimization A/Bs at
scale use this deterministic 10x upscale of the driver's sf0.1 (no
external data, no randomness):

- every fact table is 10 copies with per-copy key offsets that keep FK
  consistency (customer<->orders, orders<->lineitem, part/supplier<->
  lineitem, events.user_id, documents.doc_id, embeddings.vec_id);
- documents text is letter-rotated per copy (copy c shifts every letter
  by c) so corpus dup DENSITY is preserved instead of making every doc a
  10-way exact dup;
- embeddings are np.roll'ed per copy (norms and within-copy distance
  structure preserved, no cross-copy exact dups);
- region/nation are fixed-size dims at every TPC-H sf and stay as-is;
- each output table is ONE parquet file with the pyarrow-default ~1Mi-row
  row groups, mirroring the driver's generated layout (sf0.1's tables are
  all single-row-group at <=600k rows, i.e. default writer settings — so
  the driver's sf1.0 lineitem at 6M rows has ~6 row groups while every
  other table is still ONE, which is the few-split condition
  operators.util.spread_small_input targets).

Timing-representative only — NOT a correctness oracle input (fixture
oracles are pinned to sf0.01).

This is the one upscaler behind every growth leg (BENCH.md): build the
10x dir once, time the same ``bench_extra.py`` op list with
``SPARK_GRAFT_SF_DIR`` pointing at the source and at the 10x dir, and
read growth as the ratio of the two ``all`` lines.

Usage: python scripts/make_sf10x.py [src_sf_dir] [dst_dir]
       (defaults /root/testdata/sf0.1 -> /root/sf1.0_synth)
"""

from __future__ import annotations

import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_COPIES = 10
OFF = 10_000_000_000  # per-copy id offset, far above any sf0.1 key

# table -> columns that get the per-copy offset
OFFSET_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}
COPY_AS_IS = {"region", "nation"}


def rotate_text(col: pa.ChunkedArray, c: int) -> pa.ChunkedArray:
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    rot = str.maketrans(
        lower + upper, lower[c:] + lower[:c] + upper[c:] + upper[:c]
    )
    return pa.chunked_array(
        [pa.array([t.translate(rot) if t is not None else None
                   for t in chunk.to_pylist()], type=col.type)
         for chunk in col.chunks]
    )


def roll_embeddings(col: pa.ChunkedArray, c: int) -> pa.ChunkedArray:
    out = []
    for chunk in col.chunks:
        mat = np.stack([np.asarray(v, dtype=np.float32)
                        for v in chunk.to_pylist()])
        mat = np.roll(mat, c, axis=1)
        out.append(pa.array(list(mat), type=chunk.type))
    return pa.chunked_array(out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/sf1.0_synth"
    os.makedirs(dst, exist_ok=True)
    for fname in sorted(os.listdir(src)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        tbl = pq.read_table(os.path.join(src, fname))
        out_path = os.path.join(dst, fname)
        if name in COPY_AS_IS:
            pq.write_table(tbl, out_path, row_group_size=1 << 20)
            print(f"{fname}: dim copied ({tbl.num_rows} rows)")
            continue
        copies = []
        for c in range(N_COPIES):
            t = tbl
            for col in OFFSET_COLS.get(name, []):
                idx = t.schema.get_field_index(col)
                t = t.set_column(
                    idx, col, pc.add(t.column(col), c * OFF))
            if name == "documents" and c > 0:
                idx = t.schema.get_field_index("text")
                t = t.set_column(idx, "text", rotate_text(t.column("text"), c))
            if name == "embeddings" and c > 0:
                idx = t.schema.get_field_index("embedding")
                t = t.set_column(
                    idx, "embedding", roll_embeddings(t.column("embedding"), c))
            copies.append(t)
        out = pa.concat_tables(copies)
        pq.write_table(out, out_path, row_group_size=1 << 20)
        meta = pq.read_metadata(out_path)
        print(f"{fname}: {meta.num_rows} rows, {meta.num_row_groups} row group(s)")
    # bench.py looks for the completion marker the driver writes
    open(os.path.join(dst, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
