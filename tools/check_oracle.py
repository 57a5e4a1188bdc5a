"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, the matching
``oracle_sql()`` on DuckDB over the same parquet views, and compares
row count, column names, and order-insensitive values (columns sorted
by name, rows sorted, exact equality for ints/strings, equality for
floats after the queries' own rounding discipline).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        problems.append(f"row count {len(a)} vs {len(b)}")
    if sorted(a.columns) != sorted(b.columns):
        problems.append(f"columns {sorted(a.columns)} vs {sorted(b.columns)}")
        return problems
    if problems:
        return problems
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(float)
            bv = bv.astype(float)
            bad = ~(np.isclose(av, bv, rtol=0, atol=0, equal_nan=True))
            exact_bad = int(bad.sum())
            close_bad = int((~np.isclose(av, bv, rtol=1e-12, atol=1e-9, equal_nan=True)).sum())
            if exact_bad:
                i = int(np.argmax(bad))
                problems.append(
                    f"col {c}: {exact_bad} exact mismatches ({close_bad} beyond 1e-12) "
                    f"e.g. row {i}: {av[i]!r} vs {bv[i]!r}"
                )
        else:
            if not (av == bv).all():
                bad = av != bv
                i = int(np.argmax(bad))
                problems.append(
                    f"col {c}: {int(bad.sum())} mismatches e.g. row {i}: {av[i]!r} vs {bv[i]!r}"
                )
    return problems


def _final_select_items(sql: str) -> list[str]:
    """Output expressions of the LAST top-level SELECT (after every
    CTE), split on top-level commas, each 'expr AS alias' item whole."""
    import re

    depth = 0
    last_sel = -1
    for m in re.finditer(r"[()]|\bSELECT\b", sql, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            last_sel = m.end()
    if last_sel < 0:
        return []
    tail = sql[last_sel:]
    # cut at the top-level FROM
    depth = 0
    end = len(tail)
    for m in re.finditer(r"[()]|\bFROM\b", tail, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            end = m.start()
            break
    items, depth, start = [], 0, 0
    sel = tail[:end]
    for i, ch in enumerate(sel):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(sel[start:i].strip())
            start = i + 1
    items.append(sel[start:].strip())
    return [it for it in items if it]


def lint_oracle_sql(sql: str) -> list[str]:
    """Float-emission discipline lint (SURVEY 'FLOAT-ORACLE DISCIPLINE',
    the r4 wrap-2 finding):

    * a SINGLE-DIVIDE quotient of exact integers is bit-identical by
      IEEE construction and must be emitted RAW — wrapping it in
      round() *introduces* cross-engine divergence (Spark rounds via
      BigDecimal HALF_UP, DuckDB multiplies-rounds-divides in floats;
      observed as the 1-ulp flow_peel_block objective4 mismatch).
      Flagged: ``round(<expr with exactly one '/' and no other float
      op>, n)``.
    * a MULTI-OP float chain must be rounded on both sides. Textually
      proving an unrounded chain is float (not integer-exact) is
      unreliable, so the lint flags only the unambiguous case: an
      un-rounded output expression containing a transcendental
      (sqrt/ln/log/exp/pow/pi) — always float — combined with further
      arithmetic.

    Returns human-readable warnings (empty = clean).
    """
    import re

    warns = []
    for item in _final_select_items(sql):
        alias_m = re.search(r"\bAS\s+(\w+)\s*$", item, re.IGNORECASE)
        alias = alias_m.group(1) if alias_m else item[:30]
        expr = item[: alias_m.start()] if alias_m else item
        e = expr.strip()
        # rule 1: rounded single divide
        m = re.match(r"(?is)^round\s*\((.*),\s*\d+\s*\)$", e)
        if m:
            inner = m.group(1)
            if (
                inner.count("/") == 1
                and not re.search(r"[+*]|(?<!\w)-", inner.replace("::", ""))
                and not re.search(
                    r"\b(sqrt|ln|log|exp|pow|pi|sin|cos)\s*\(", inner,
                    re.IGNORECASE,
                )
            ):
                warns.append(
                    f"col {alias}: round() around a single divide — "
                    "IEEE single divides are bit-identical raw; the "
                    "round INTRODUCES HALF_UP-vs-float divergence"
                )
        # rule 2: un-rounded transcendental chain (skip integer-cast
        # outputs — a CASE-count that merely COMPARES against a sqrt
        # emits exact integers, not floats)
        elif re.search(r"\b(sqrt|ln|exp|pow)\s*\(", e, re.IGNORECASE) and (
            re.search(r"[+*/]", re.sub(r"(?is)\bround\s*\(.*\)", "", e))
        ):
            if not re.search(
                r"(?is)^\s*(CAST\s*\(\s*)?round\s*\(", e
            ) and not re.search(
                r"(?is)^CAST\s*\(.*AS\s+(BIGINT|INTEGER|INT|LONG)\s*\)$",
                e.strip(),
            ):
                warns.append(
                    f"col {alias}: un-rounded float chain with a "
                    "transcendental — emit through round(x, 6|8) on "
                    "BOTH sides per the float-oracle discipline"
                )
    return warns


# Declared-safe float emissions: each entry is a column PROVEN
# bit-identical cross-engine despite tripping a lint rule, with the
# docstring that carries the proof. New queries must either follow the
# discipline or add a declaration here (reviewable, greppable).
FLOAT_LINT_ALLOW: dict[str, dict[str, str]] = {
    "rolling_corr": {
        "corr": "num/(sqrt(dx)*sqrt(dy)) — 3 IEEE ops in fixed order on "
                "exact BIGINT moments; split sqrt documented bit-identical "
                "(operators/timeseries.rolling_corr docstring)",
    },
    "acf_multi": {
        "acf": "same split-sqrt ratio contract as rolling_corr "
               "(operators/timeseries.acf_multi docstring)",
    },
    "xcorr_lagged": {
        "pearson_r": "same split-sqrt ratio contract as rolling_corr "
                     "(operators/timeseries.xcorr_lagged docstring)",
    },
}


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [--json OUT.json] [sf_dir] [query ...]")
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as E
    from spartan2_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"UNKNOWN query name(s): {unknown} — not in queries()")
        return 2
    failed = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {exc}")
            failed.append(name)
            report[name] = {"rows": None, "value_exact": False,
                            "err": f"spark: {exc}"[:300]}
            continue
        if name not in os_:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows)")
            report[name] = {"rows": len(sdf), "value_exact": None,
                            "err": "no_oracle"}
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {exc}")
            failed.append(name)
            report[name] = {"rows": len(sdf), "value_exact": False,
                            "err": f"duckdb: {exc}"[:300]}
            continue
        lint = [
            w
            for w in lint_oracle_sql(os_[name])
            if not any(
                f"col {c}:" in w for c in FLOAT_LINT_ALLOW.get(name, {})
            )
        ]
        if lint:
            print(f"LINT {name}: " + "; ".join(lint))
            failed.append(name)
            report[name] = {"rows": len(sdf), "value_exact": False,
                            "err": "lint: " + "; ".join(lint)[:280]}
            continue
        problems = compare(sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
            report[name] = {"rows": len(sdf), "value_exact": False,
                            "err": "; ".join(problems)[:300]}
        else:
            print(f"OK   {name} ({len(sdf)} rows)")
            report[name] = {"rows": len(sdf), "value_exact": True, "err": None}
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "n_queries": len(report),
                       "n_failures": len(failed), "results": report}, fh,
                      indent=1)
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
