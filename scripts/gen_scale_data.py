"""Generate a larger scale factor from the driver's sf0.1 tables, for
SCALING DIAGNOSTICS ONLY (the r12 verdict: at sf0.1 the 8-vs-32-core
sweep cannot distinguish serial operators from fixed overhead — the
whole bench is session/plan/stage-launch bound at 11 MB of lineitem).

K deterministic copies of every fact table with key columns offset by
copy index so intra-copy join relationships are preserved; dimension
tables (nation, region) stay single-copy. Text and vectors are
PERTURBED per copy (one extra token / +k*1e-3 on dim 0) so dedup and
similarity workloads don't see a synthetic 10x duplicate explosion
(exact cross-copy duplicates would blow candidate pairs quadratically,
which no real corpus growth does). NOT oracle data — never point the
DuckDB gates at it.

    python scripts/gen_scale_data.py [K] [src_dir] [dst_dir]
    # defaults: K=10, /root/testdata/sf0.1 -> /root/testdata_r13/sf1
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> {column: kind}; kind "key" offsets by k * (max+1),
# "text" appends a per-copy token, "vec" perturbs dim 0, "chars"
# tracks the text length column.
FACT_KEYS = {
    "orders": {"o_orderkey": "key", "o_custkey": "ck"},
    "lineitem": {"l_orderkey": "ok", "l_partkey": "pk", "l_suppkey": "sk"},
    "customer": {"c_custkey": "ck", "c_name": "text"},
    "part": {"p_partkey": "pk", "p_name": "text"},
    "supplier": {"s_suppkey": "sk", "s_name": "text"},
    "documents": {"doc_id": "key", "text": "text", "n_chars": "chars"},
    "embeddings": {"vec_id": "key", "embedding": "vec"},
    "events": {"event_id": "key", "user_id": "uk"},
}
DIMS = ("nation", "region")

# shared key spaces must use one offset so joins stay consistent
SHARED = {"ok": ("orders", "o_orderkey"), "ck": ("customer", "c_custkey"),
          "pk": ("part", "p_partkey"), "sk": ("supplier", "s_suppkey"),
          "uk": ("events", "user_id")}


def main() -> None:
    k_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata_r13/sf1"
    os.makedirs(dst, exist_ok=True)

    offsets = {}
    for kind, (tbl, col) in SHARED.items():
        t = pq.read_table(f"{src}/{tbl}.parquet", columns=[col])
        offsets[kind] = pc.max(t.column(col)).as_py() + 1

    for name in DIMS:
        pq.read_table(f"{src}/{name}.parquet")  # validate
        shutil.copyfile(f"{src}/{name}.parquet", f"{dst}/{name}.parquet")

    for name, spec in FACT_KEYS.items():
        t = pq.read_table(f"{src}/{name}.parquet")
        own_key = [c for c, kind in spec.items() if kind == "key"]
        own_off = {
            c: pc.max(t.column(c)).as_py() + 1 for c in own_key
        }
        # one file per copy inside a <name>.parquet DIRECTORY (Spark
        # reads it natively): a single concatenated file would be one
        # scan split at these sizes and re-serialize every scan — the
        # exact pathology the sweep exists to measure past.
        out_dir = f"{dst}/{name}.parquet"
        if os.path.isfile(out_dir):
            os.remove(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for k in range(k_copies):
            cols = []
            for field in t.schema:
                col = t.column(field.name)
                kind = spec.get(field.name)
                if kind == "key":
                    col = pc.add(col, k * own_off[field.name])
                elif kind in SHARED:
                    col = pc.add(col, k * offsets[kind])
                elif kind == "text" and k > 0:
                    # triple-digit suffix: any two copies' suffixes are
                    # >= 3 edits apart, so the deletion-variant fuzzy
                    # join (edit distance <= 2) does NOT pair a name
                    # with its 9 other copies — a " c1"/" c2" suffix is
                    # edit-distance-1 cross-copy and inflated x47's sf1
                    # candidate set ~45 pairs per name (measured 34 s).
                    col = pc.binary_join_element_wise(
                        col.combine_chunks().cast(pa.string()),
                        pa.array([f"c{k}{k}{k}"] * len(t), pa.string()),
                        " ",
                    )
                elif kind == "chars" and k > 0:
                    col = pc.add(col, len(f" c{k}{k}{k}"))
                elif kind == "vec" and k > 0:
                    flat = col.combine_chunks()
                    values = pc.list_flatten(flat)
                    n = flat.offsets
                    import numpy as np

                    v = values.to_numpy(zero_copy_only=False).copy()
                    starts = n.to_numpy(zero_copy_only=False)[:-1]
                    v[starts] += k * 1e-3
                    col = pa.ListArray.from_arrays(n, pa.array(v, values.type))
                cols.append(
                    col if isinstance(col, pa.ChunkedArray) else pa.chunked_array([col])
                )
            part = pa.table(cols, schema=t.schema)
            pq.write_table(part, f"{out_dir}/part-{k:02d}.parquet",
                           compression="zstd")
            total += len(part)
        print(f"{name}: {len(t)} -> {total} rows in {k_copies} files")


if __name__ == "__main__":
    main()
