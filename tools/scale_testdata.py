#!/usr/bin/env python
"""Synthesize a replica-scaled measurement dataset from sf0.1.

Usage: python tools/scale_testdata.py <mult> [<out_dir>]

Writes <out_dir> (default /tmp/sf0.1x<mult>) with every table scaled
``mult``× by key-offset replication: fact/entity keys are shifted by
10M per replica so foreign-key joins stay consistent and replicas
never collide; nation/region (bounded dimensions) are copied once.
Document text gets a per-replica prefix so shingle-based near-dup
DENSITY stays that of sf0.1 instead of every doc gaining mult−1 exact
copies (which would quadratically distort pair-stage workloads).
Embeddings are replicated verbatim (ANN corpus passes scale; exact
cross-replica duplicates are acceptable for timing).

MEASUREMENT AID ONLY (VERDICT r10 item 7: re-measure the movers at a
larger scale so data-path wins separate from the per-query overhead
floor): the output lives outside the repo and the driver's testdata,
has no oracle, and nothing in the engine reads it unless
SPARK_GRAFT_SF_DIR is pointed at it explicitly.
"""

from __future__ import annotations

import os
import sys

OFF = 10_000_000

# per-table key columns to shift per replica
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONCE = ["region", "nation"]


def main() -> None:
    if len(sys.argv) < 2:
        sys.stderr.write(
            "usage: python tools/scale_testdata.py <mult> [<out_dir>]\n"
        )
        sys.exit(2)
    mult = int(sys.argv[1])
    src = os.environ.get("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf0.1x{mult}"
    os.makedirs(out, exist_ok=True)

    import duckdb

    con = duckdb.connect()
    # replicas stay disjoint only while every shifted key is below OFF
    for t, keys in KEYS.items():
        maxes = con.execute(
            f"SELECT {', '.join(f'max({k})' for k in keys)} "
            f"FROM read_parquet('{src}/{t}.parquet')"
        ).fetchone()
        for k, m in zip(keys, maxes):
            if m is not None and m >= OFF:
                raise SystemExit(
                    f"{t}.{k}: max key {m} >= OFF={OFF}; replica key "
                    "ranges would overlap — raise OFF"
                )
    for t in COPY_ONCE:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t, keys in KEYS.items():
        parts = []
        for r in range(mult):
            cols = []
            for (name, *_rest) in con.execute(
                f"SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0"
            ).description:
                if name in keys:
                    cols.append(f"{name} + {r * OFF} AS {name}")
                elif t == "documents" and name == "text" and r > 0:
                    cols.append(f"'r{r} ' || text AS text")
                else:
                    cols.append(name)
            parts.append(
                f"SELECT {', '.join(cols)} "
                f"FROM read_parquet('{src}/{t}.parquet')"
            )
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)}) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
