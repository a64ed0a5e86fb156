"""Local DuckDB-oracle harness mirroring the driver's correctness gate.

Runs a registry query on Spark and its ANSI-SQL oracle on DuckDB over the
same parquet tables, then compares row count, schema shape, and values
(column-name-sorted, order-insensitive) — the same contract as
CORRECTNESS_r{N}.json. Used by tests/ to keep every declared query
hash-matching before the driver ever sees it.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from nzgmdb_spark.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("bool")
        else:
            out[c] = s.astype("string")
    return out.sort_values(list(out.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    issues: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        issues.append(f"row count {len(spark_pdf)} != oracle {len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        issues.append(f"columns {s_cols} != oracle {o_cols}")
        return issues
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if issues:
        return issues
    for c in a.columns:
        xa, xb = a[c], b[c]
        if xa.dtype != xb.dtype:
            issues.append(f"col {c}: dtype {xa.dtype} != {xb.dtype}")
            continue
        if pd.api.types.is_float_dtype(xa):
            eq = (
                (xa == xb)
                | (xa.isna() & xb.isna())
                | ((xa - xb).abs() <= 0)  # exact: hash-match requires bit equality
            )
        else:
            eq = (xa == xb) | (xa.isna() & xb.isna())
        n_bad = int((~eq).sum())
        if n_bad:
            i = (~eq).idxmax()
            detail = f"first diff @{i}: {xa[i]!r} != {xb[i]!r}"
            if pd.api.types.is_float_dtype(xa):
                d = (xa - xb).abs()
                detail += f", max abs diff {d.max()!r}"
            issues.append(f"col {c}: {n_bad} value mismatches ({detail})")
    return issues


def check_query(name: str, sf_dir: str, spark) -> list[str]:
    from nzgmdb_spark.queries import load_registry

    spec = load_registry()[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    if spec.sql is None:
        return [] if len(spark_pdf) >= 0 else ["spark query failed"]
    oracle_pdf = run_oracle(spec.sql, sf_dir)
    return compare(spark_pdf, oracle_pdf)
