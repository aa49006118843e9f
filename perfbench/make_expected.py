"""Write ``expected.json``: the value hash of every workload query, from
its DuckDB oracle (``oracle_sql()``) over the unpermuted source tables.

A seed only reorders rows, so one hash per (scale, query) serves every
seed. ``run.py`` compares the engine's result on the permuted inputs with
these hashes on every run. Run from the repo root:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from canon import value_hash  # noqa: E402
from inputs import TABLES, source_dir  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


def oracle_hashes() -> dict:
    import duckdb

    import __spark_entry__ as em

    oracles = em.oracle_sql()
    out: dict = {}
    for scale in sorted({s for wl in WORKLOADS.values() for s in wl.scales}):
        con = duckdb.connect()
        src = source_dir(scale)
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')"
            )
        for wl in WORKLOADS.values():
            for q, s in wl.queries:
                if s != scale:
                    continue
                pdf = con.execute(oracles[q]).fetchdf()
                out.setdefault(scale, {})[q] = {
                    "hash": value_hash(pdf),
                    "rows": len(pdf),
                }
                print(f"oracle {scale} {q}: {len(pdf)} rows", file=sys.stderr)
        con.close()
    return out


def main() -> None:
    expected = oracle_hashes()
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
