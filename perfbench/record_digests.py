"""Record the expected outputs of the catalog workload's queries.

    python3 perfbench/record_digests.py

Runs every query of the catalog workload twice over ``perfbench/data``
on Spark, in the session every benchmark run builds, and once as its
``ORACLES`` SQL twin on DuckDB.  A query is
recorded only when its Spark result equals the DuckDB result exactly
(as ``tools/check_oracles.py`` compares them).  The digest of a query
whose two Spark runs give different digests is not recorded; the
benchmark then checks that query on its schema and row count only.
Writes ``perfbench/catalog_digests.json``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["CODEDUP_QUERY_CACHE"] = "off"
    sys.path.insert(0, ROOT)
    import duckdb
    import pandas as pd

    from codedup.queries import ORACLES, QUERIES, clear_pairs_cache
    from perfbench.workloads import (CATALOG_DATA, CATALOG_TIERS, DIGESTS, bench_session,
                                     canonical_digest, schema_of)
    from tools.check_oracles import canon

    spark = bench_session("perfbench-record")
    con = duckdb.connect()
    for f in sorted(os.listdir(CATALOG_DATA)):
        con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM '{os.path.join(CATALOG_DATA, f)}'")

    out, bad = {}, []
    for q in CATALOG_TIERS["default"]:
        runs = []
        for _ in range(2):
            clear_pairs_cache()
            runs.append(QUERIES[q](spark, CATALOG_DATA).toPandas())
        want = con.sql(ORACLES[q]).df()
        try:
            pd.testing.assert_frame_equal(canon(runs[0]), canon(want), check_dtype=False,
                                          check_exact=True)
        except AssertionError as ex:
            bad.append(q)
            print(f"FAIL {q}: differs from its DuckDB oracle: {str(ex).splitlines()[0]}")
            continue
        digests = {canonical_digest(r) for r in runs}
        out[q] = {"rows": len(runs[0]), "schema": schema_of(runs[0]),
                  "digest": digests.pop() if len(digests) == 1 else None}
        stable = "stable" if out[q]["digest"] else "UNSTABLE"
        print(f"OK   {q}: rows={out[q]['rows']} digest={stable}")
    spark.stop()
    if bad:
        print(f"not recorded: {bad}")
        return 1
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
