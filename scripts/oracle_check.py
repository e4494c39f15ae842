"""Full-registry correctness harness (VERDICT r2 item 8): run EVERY
``queries()`` entry against its ``oracle_sql()`` twin via DuckDB at a given
scale factor — the same comparison the driver samples, but over the whole
registry, with the JSON summary committed as in-repo evidence
(ORACLE_CHECK.json).

Usage:
    python scripts/oracle_check.py [--sf-dir /root/testdata/sf0.01] \
        [--out ORACLE_CHECK.json] [--only name1,name2]

Compare semantics (mirrors the driver): column-name sets must be equal;
row multisets compare order-insensitively with floats rounded to 6
decimals (a value that rounds to zero compares as 0.0, whatever its
sign); queries with no oracle record a rows-only smoke result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_rows(df):
    import pandas as pd

    cols = sorted(df.columns)
    rows = sorted(
        tuple(
            "null" if v is None or (isinstance(v, float) and pd.isna(v))
            # + 0.0 turns a rounded -0.0 into 0.0
            else str(round(v, 6) + 0.0) if isinstance(v, float) else str(v)
            for v in row
        )
        for row in df[cols].itertuples(index=False, name=None)
    )
    return rows, cols


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="ORACLE_CHECK.json")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    import duckdb

    from epic_pandas_spark.plans import registry
    from epic_pandas_spark.session import get_spark

    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs, oracles = registry.queries(), registry.oracle_sql()
    names = sorted(qs) if not args.only else args.only.split(",")
    results, n_fail = {}, 0
    t_start = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        entry: dict = {}
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
            if name not in oracles:
                entry = {"status": "rows_only", "rows": len(sdf)}
            else:
                odf = con.sql(oracles[name]).df()
                s_rows, s_cols = _norm_rows(sdf)
                o_rows, o_cols = _norm_rows(odf)
                ok = s_cols == o_cols and s_rows == o_rows
                entry = {
                    "status": "match" if ok else "mismatch",
                    "rows": len(sdf),
                    "oracle_rows": len(odf),
                }
                if not ok:
                    n_fail += 1
                    if s_cols != o_cols:
                        entry["columns"] = {"spark": s_cols, "oracle": o_cols}
                    else:
                        entry["first_diff"] = next(
                            ({"spark": list(a), "oracle": list(b)}
                             for a, b in zip(s_rows, o_rows) if a != b),
                            {"note": "row-count mismatch only"},
                        )
        except Exception as e:  # noqa: BLE001 — harness must report every query
            n_fail += 1
            entry = {"status": "error", "error": str(e)[:500]}
        entry["sec"] = round(time.perf_counter() - t0, 3)
        results[name] = entry
        print(f"{name}: {entry['status']} ({entry['sec']}s)", file=sys.stderr)

    summary = {
        "sf_dir": args.sf_dir,
        "n_queries": len(names),
        "n_match": sum(1 for r in results.values() if r["status"] == "match"),
        "n_rows_only": sum(1 for r in results.values() if r["status"] == "rows_only"),
        "n_fail": n_fail,
        "total_sec": round(time.perf_counter() - t_start, 1),
        "results": results,
    }
    if args.only and args.out == "ORACLE_CHECK.json":
        # a partial run must never clobber the committed full-registry
        # artifact (the freshness gate requires artifact-n == registry-n)
        args.out = "ORACLE_CHECK_PARTIAL.json"
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in summary.items() if k != "results"}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
