"""Reference answers the workloads' outputs are checked against.

- SQL: each query's DuckDB oracle rows from the query registry, run over the base
  parquet once per checkout (the base tables do not depend on the seed; the
  seed only permutes the query order), outside any timed path.
- Compaction: row count + order-insensitive hash of each base table,
  computed once with the same Spark expression (``table_hash``) used on the
  compacted output.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
import os


def _norm(v):
    """Engine-neutral value: floats rounded to 9 places, times as text."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def canonical_rows(columns: list[str], rows) -> list[list]:
    """Rows with columns in name order and values normalized, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [[_norm(r[i]) for i in order] for r in rows]
    return sorted(canon, key=lambda r: repr([_sortable(v) for v in r]))


def _sortable(v):
    return float(f"{v:.6g}") if isinstance(v, float) else v


def rows_match(got: list[list], want: list[list]) -> str | None:
    """None when equal; floats within 1e-8 relative (an aggregate rounded
    to cents can differ by one unit between engines' summation orders)."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, (int, float)):
                if not math.isclose(a, b, rel_tol=1e-8, abs_tol=1e-9):
                    return f"row {g} != oracle {w}"
            elif a != b:
                return f"row {g} != oracle {w}"
    return None


def ensure_oracle(base: str, queries: tuple[str, ...]) -> None:
    """Run each query's registry oracle in DuckDB over the base parquet."""
    path = os.path.join(base, "oracle.json")
    if os.path.exists(path):
        return
    import duckdb

    from canvas_data_aws_spark.plans.registry import all_queries

    registry = all_queries()
    con = duckdb.connect()
    try:
        for f in os.listdir(base):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(base, f)}')"
                )
        out = {}
        for name in queries:
            cur = con.execute(registry[name].oracle)
            cols = [d[0] for d in cur.description]
            out[name] = canonical_rows(cols, cur.fetchall())
    finally:
        con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)


def load_oracle(base: str) -> dict:
    with open(os.path.join(base, "oracle.json")) as fh:
        return json.load(fh)


def table_hash(df) -> tuple[int, str]:
    """(row count, order-insensitive content hash) of a DataFrame."""
    import pyspark.sql.functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in sorted(df.columns)]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), str(row["s"])


def base_hashes(spark, base: str) -> dict:
    """{table: [rows, hash]} of the base parquet, cached beside it."""
    path = os.path.join(base, "hashes.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    out = {}
    for f in sorted(os.listdir(base)):
        if f.endswith(".parquet"):
            out[f[:-8]] = list(table_hash(spark.read.parquet(os.path.join(base, f))))
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
