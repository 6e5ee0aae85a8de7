"""Precomputed DuckDB oracle for the benchmark's catalog entries.

The oracle side of the correctness check is computed once, by running each
entry's oracle SQL (``gofast_spark.plans.catalog.ORACLE_SQL``) on DuckDB over
the shipped parquet, and stored as a digest of the normalised rows in
``oracle.json``.  A benchmark run only normalises its Spark output the same
way (``tests.oracle_util.normalize_rows``) and compares digests, so no run
pays for DuckDB.

Regenerate after changing a workload or the data::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_FILE = os.path.join(HERE, "oracle.json")


def digest(columns, rows) -> dict:
    """Row count and sha256 of the order-insensitive normalised rows."""
    from tests.oracle_util import normalize_rows

    norm, cols = normalize_rows(list(columns), [tuple(r) for r in rows])
    h = hashlib.sha256("\n".join(cols + ["--"] + norm).encode())
    return {"rows": len(norm), "sha256": h.hexdigest()}


def load() -> dict:
    with open(ORACLE_FILE) as f:
        return json.load(f)


def main() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from gofast_spark.plans.catalog import ORACLE_SQL
    from tests.oracle_util import duck_conn
    from workloads import SCALES, WORKLOADS

    out: dict[str, dict] = {}
    for scale in SCALES:
        con = duck_conn(os.path.join(HERE, "data", scale))
        out[scale] = {}
        for names in WORKLOADS.values():
            for name in names:
                res = con.execute(ORACLE_SQL[name])
                cols = [d[0] for d in res.description]
                out[scale][name] = digest(cols, res.fetchall())
        con.close()
    with open(ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
