"""Write perfbench/oracle_digests.json: for every benchmark entry and
table set under perfbench/data, the ``scripts/sweep.py`` digest of its
DuckDB oracle (sorted columns, row count, wrapping sum of row hashes).

    python3 perfbench/make_oracles.py

The tables are read-only, so the digests are made once and stored; run
this again only when an entry's oracle SQL or the tables change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import duckdb

    from pygr_spark.queries import ORACLES
    from pygr_spark.session import DRIVER_TABLES
    from run import WORKLOADS
    from scripts.sweep import digest

    out: dict[str, dict] = {}
    data = os.path.join(HERE, "data")
    for scale in sorted(os.listdir(data)):
        con = duckdb.connect()
        for t in DRIVER_TABLES:
            path = os.path.join(data, scale, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out[scale] = {}
        for names in WORKLOADS.values():
            for name in names:
                odf = con.execute(ORACLES[name]).fetchdf()
                rows, total = digest(odf)
                out[scale][name] = {"columns": sorted(odf.columns), "rows": rows, "sum": total}
                print(scale, name, rows, file=sys.stderr)
        con.close()
    with open(os.path.join(HERE, "oracle_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
