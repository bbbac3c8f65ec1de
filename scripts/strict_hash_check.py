"""Strict (driver-grade) hash parity check: Spark query vs DuckDB oracle.

The driver sorts columns by name, sorts rows, and hashes the VALUES —
so dtype-level representation differences (HUGEINT vs BIGINT, int32 vs
int64, CUBE-NULL encoding) flip the hash even when values are equal.
This script replicates that: canonical sort, then md5 over the
repr of every cell (including its Python type), per query.

Usage: python scripts/strict_hash_check.py [query ...]   (default: all)
Set STRICT_JSON_OUT=/path.json to also write a machine-readable record
{query: {"ok": bool, "spark_rows": N, "oracle_rows": N, "plan": str}} for
the round archive (BENCH/STRICT_r*.json), diffable across rounds. "plan"
is the query's executed physical plan with the per-session expression
ids (``#12``) and exchange ids (``plan_id=34``) stripped, so the records
of two commits diff to the plan changes alone.
"""

import hashlib
import json
import os
import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def value_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.md5()
    for _, row in canon(pdf).iterrows():
        for v in row:
            h.update(f"{type(v).__name__}:{v!r};".encode())
    return h.hexdigest()


def normalized_plan(df) -> str:
    """The executed plan of an already-run DataFrame, ids stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "", plan))


def main():
    from geokitten_spark.session import get_spark

    names = sys.argv[1:] or sorted(entrymod.oracle_sql().keys())
    spark = get_spark()
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    bad = 0
    record = {}
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE")
            record[name] = {"ok": None, "note": "no oracle"}
            continue
        df = queries[name](spark, SF_DIR)
        s = df.toPandas()
        o = con.sql(oracles[name]).df()
        hs, ho = value_hash(s), value_hash(o)
        ok = hs == ho
        bad += 0 if ok else 1
        record[name] = {
            "ok": ok, "spark_rows": len(s), "oracle_rows": len(o), "plan": normalized_plan(df),
        }
        print(f"{name}: {'OK' if ok else 'HASH-MISMATCH'}  rows {len(s)}/{len(o)}")
        if not ok:
            cs, co = canon(s), canon(o)
            print("  spark dtypes:", dict(cs.dtypes.astype(str)))
            print("  duck  dtypes:", dict(co.dtypes.astype(str)))
            for c in cs.columns:
                if list(map(repr, cs[c].head(3))) != list(map(repr, co[c].head(3))):
                    print(f"  col {c}: spark {list(cs[c].head(3))!r} vs duck {list(co[c].head(3))!r}")
    print(f"\n{bad} mismatching")
    out = os.environ.get("STRICT_JSON_OUT")
    if out:
        with open(out, "w") as f:
            json.dump({"sf_dir": SF_DIR, "results": record}, f, indent=1, sort_keys=True)
        print(f"wrote {out}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
