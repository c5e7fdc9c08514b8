"""Make perfbench/oracles.json: the DuckDB ``oracle_sql()`` result of every
analysis query on every seeded documents variant, as a row count and an
order-insensitive value hash.

    python3 perfbench/make_oracles.py

The slow oracles (dedup_groups, lsh_pairs) take tens of seconds per input,
so they are made once here rather than in each benchmark run. Run it again
whenever the documents generator, N_DOCS or an oracle query changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from perfbench import checks, inputs  # noqa: E402
from perfbench.run import QUERIES, WORKLOADS  # noqa: E402


def main() -> int:
    n_docs = WORKLOADS["analyze"]["n_docs"]
    sql = entry.oracle_sql()
    work = os.path.join(ROOT, ".perfbench_runs", "oracles")
    os.makedirs(work, exist_ok=True)
    out = {"n_docs": n_docs, "variants": {}}
    for v in range(inputs.DOC_VARIANTS):
        path = os.path.join(work, f"documents-{v}.parquet")
        inputs.write_documents(path, v, n_docs)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        res = {}
        for q in QUERIES:
            t = time.time()
            df = con.sql(sql[q]).df()
            res[q] = {"rows": len(df), "hash": checks.value_hash(df)}
            print(f"variant {v} {q}: {len(df)} rows ({time.time() - t:.1f}s)", file=sys.stderr)
        con.close()
        out["variants"][str(v)] = res
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
