"""Type-level sweep of every DuckDB oracle twin.

The driver hashes Spark and DuckDB results after a pandas export; DuckDB
HUGEINT (the result type of ``sum()`` over integers) exports as float64,
so a value-identical twin still hash-mismatches against Spark's BIGINT
(``12345.0`` vs ``12345``).  The value-exact local gate can't see this —
pandas float64 holds integers < 2**53 exactly.  This sweep catches it at
the type level: DESCRIBE each twin over the sf0.01 views and fail on any
column whose DuckDB type pandas would export as float64 or object while
Spark emits an integer (HUGEINT, UHUGEINT, UBIGINT, DECIMAL).

Usage: python tools/check_twin_types.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB types whose pandas export silently changes the value's repr
# relative to what Spark produces for the same arithmetic.
BAD_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = E.oracle_sql()
    bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # noqa: BLE001 - report and continue
            print(f"FAIL {name}: DESCRIBE error: {exc}")
            bad += 1
            continue
        flagged = [
            (col, typ)
            for col, typ, *_ in desc
            if any(typ.upper().startswith(b) for b in BAD_TYPES)
        ]
        if flagged:
            bad += 1
            cols = ", ".join(f"{c}:{t}" for c, t in flagged)
            print(f"FAIL {name}: driver-hash-unsafe twin column types: {cols}")
    print(f"checked {len(oracles)} twins, {bad} with unsafe types")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
