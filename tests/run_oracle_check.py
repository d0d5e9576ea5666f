"""Local replica of the driver's correctness gate (SURVEY §3.4).

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on
DuckDB over the same sf-dir parquet, then compares row count, sorted column
names, and an order-insensitive value multiset (floats rounded to 6 sig
places).  Usage:

    python tests/run_oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v) if v is not None else None


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # nulls sort before any string (mirrors the driver's order-insensitive hash)
    key = lambda t: tuple((v is not None, v if v is not None else "") for v in t)  # noqa: E731
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=key)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kgx.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
            if name not in oracles:
                results[name] = {"status": "rows_only", "rows": len(srows)}
                continue
            cur = con.execute(oracles[name])
            dcols = sorted(d[0] for d in cur.description)
            drows = cur.fetchall()
            status = "ok"
            detail = {}
            if scols != dcols:
                status = "schema_mismatch"
                detail = {"spark": scols, "duckdb": dcols}
            elif len(srows) != len(drows):
                status = "rowcount_mismatch"
                detail = {"spark": len(srows), "duckdb": len(drows)}
            else:
                a = _norm_rows(sdf.columns, [tuple(r) for r in srows])
                b = _norm_rows([d[0] for d in cur.description], drows)
                if a != b:
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    status = "value_mismatch"
                    detail = {"first_diffs": diff, "n_diff": sum(x != y for x, y in zip(a, b))}
            results[name] = {"status": status, "rows": len(srows), **({"detail": detail} if detail else {})}
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "error", "error": str(e)[:500]}

    ok = sum(1 for r in results.values() if r["status"] in ("ok", "rows_only"))
    print(json.dumps(results, indent=2, default=str))
    print(f"\n{ok}/{len(results)} queries ok")
    return 0 if ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
