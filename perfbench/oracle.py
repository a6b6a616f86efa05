"""Regenerate ``expected.json``: run each query's DuckDB oracle
(``QueryDef.oracle``, else ``bench_ref_sql``) over the benchmark's inputs
and record the order-insensitive result hash, the row count and the
column names.

Usage: python3 perfbench/oracle.py      (from the repository root)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import spec  # noqa: E402


def expected_for(data_dir: str, registry) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={spec.CPUS}")
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in spec.ALL_QUERIES:
        q = registry[name]
        cur = con.execute(q.oracle or q.bench_ref_sql)
        rows = cur.fetchall()
        out[name] = {"hash": spec.result_hash(rows), "rows": len(rows),
                     "columns": [d[0] for d in cur.description]}
    con.close()
    return out


def main() -> None:
    from clif_spark.queries import collect_registry

    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE),
                                     prefix=".perfbench_oracle_") as tmp:
        gen.write(tmp)
        expected = expected_for(tmp, collect_registry())
    with open(spec.EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
