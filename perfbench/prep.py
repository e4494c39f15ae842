"""Untimed preparation, run in its own process so the benchmark's driver
process never holds the generated tables or DuckDB's working set:

1. the seeded input tables (``datagen.prepare``, cached by key);
2. the DuckDB answer of every named registry query's ``oracle_sql``,
   cached next to the tables under a digest of the SQL text.

Usage: python3 perfbench/prep.py --sf 0.1 --seed 1 --tables lineitem,events
           [--shards events:4] [--oracle tpch_q1,tpch_q3]
Prints the data directory as its last line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import datagen


def norm_rows(df) -> dict:
    """Order-insensitive form of a result: sorted column names and sorted
    rows, floats rounded to 6 decimals and nulls spelled out (the compare
    semantics of the repository's oracle check)."""
    import pandas as pd

    cols = sorted(df.columns)
    rows = sorted(
        [
            "null" if v is None or (isinstance(v, float) and pd.isna(v))
            else str(round(v, 6)) if isinstance(v, float) else str(v)
            for v in row
        ]
        for row in df[cols].itertuples(index=False, name=None)
    )
    return {"cols": cols, "rows": rows}


def oracle_path(data: str, name: str, sql: str) -> str:
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(data, "oracle", f"{name}-{digest}.json")


def missing_oracles(data: str, names) -> list[tuple[str, str]]:
    """(name, sql) of every named registry query whose DuckDB answer is
    not cached in ``data`` yet."""
    from epic_pandas_spark.plans import registry

    return [
        (n, sql) for n in names
        if (sql := registry.REGISTRY[n][1]) is not None
        and not os.path.exists(oracle_path(data, n, sql))
    ]


def write_oracles(data: str, names: list[str], tmp: str) -> None:
    import duckdb

    todo = missing_oracles(data, names)
    if not todo:
        return
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    os.makedirs(os.path.join(data, "oracle"), exist_ok=True)
    for name, sql in todo:
        path = oracle_path(data, name, sql)
        with open(path + ".tmp", "w") as f:
            json.dump(norm_rows(con.sql(sql).df()), f)
        os.replace(path + ".tmp", path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=os.getcwd())
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tables", required=True)
    ap.add_argument("--shards", default="")
    ap.add_argument("--oracle", default="")
    a = ap.parse_args()
    shards = {t: int(n) for t, n in (s.split(":") for s in a.shards.split(",") if s)}
    data = datagen.prepare(a.root, a.sf, a.seed, tuple(a.tables.split(",")), shards)
    if a.oracle:
        sys.path.insert(0, a.root)
        write_oracles(data, a.oracle.split(","), os.path.join(a.root, ".perfbench_work", "duckdb"))
    print(data)


if __name__ == "__main__":
    main()
