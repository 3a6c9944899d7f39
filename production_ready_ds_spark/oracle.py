"""Local DuckDB-oracle comparison harness.

Replicates the driver's correctness gate (repo BASELINE.json): run the
PySpark query and the DuckDB oracle SQL over the same parquet tables and
compare row count, column names, and order-insensitive values. Used by
tests/test_oracle.py and tools/check_oracle.py so every catalog entry is
verified locally before the driver sees it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from .tables import TABLE_NAMES


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for col in out.columns:
        s = out[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            # strip tz so Spark TIMESTAMP (UTC) == DuckDB naive micros
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            out[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[col] = s.round(6)
        elif s.dtype == object:
            out[col] = s.map(lambda v: str(v) if v is not None else None)
    out = out.sort_values(by=list(out.columns), ignore_index=True, na_position="last")
    return out


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _dtype_class_mismatch(spark_s: pd.Series, oracle_s: pd.Series) -> bool:
    """True when one engine yields an integer dtype and the other a float
    dtype on a column with no NULLs on either side.

    The driver hashes stringified values, so ``47`` (Spark long) vs
    ``47.0`` (DuckDB HUGEINT -> pandas float64) is a driver FAIL even
    though ``47 == 47.0`` — round 6 shipped exactly this
    (q_pack_bestfit) because the local comparator was value-lenient.
    NULLs force pandas to promote int to float64 on whichever side has
    them; that promotion is a representation artifact, not a dtype-class
    skew, so the strict check only applies to NULL-free columns.
    """
    a_int = pd.api.types.is_integer_dtype(spark_s)
    b_int = pd.api.types.is_integer_dtype(oracle_s)
    a_float = pd.api.types.is_float_dtype(spark_s)
    b_float = pd.api.types.is_float_dtype(oracle_s)
    if not ((a_int and b_float) or (a_float and b_int)):
        return False
    return not spark_s.isna().any() and not oracle_s.isna().any()


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return CompareResult(
            name, False, len(spark_pdf), len(oracle_pdf),
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}",
        )
    for col in spark_pdf.columns:
        if _dtype_class_mismatch(spark_pdf[col], oracle_pdf[col]):
            return CompareResult(
                name, False, len(spark_pdf), len(oracle_pdf),
                f"dtype-class mismatch in {col!r}: spark={spark_pdf[col].dtype} "
                f"oracle={oracle_pdf[col].dtype} (no NULLs on either side; the "
                "driver's stringify-hash distinguishes 47 from 47.0 — cast the "
                "oracle SQL to BIGINT or the Spark side to DOUBLE)",
            )
    if len(spark_pdf) != len(oracle_pdf):
        return CompareResult(
            name, False, len(spark_pdf), len(oracle_pdf),
            f"row counts differ: {len(spark_pdf)} vs {len(oracle_pdf)}",
        )
    a = _canonicalize(spark_pdf)
    b = _canonicalize(oracle_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            x = None if (isinstance(x, float) and math.isnan(x)) or pd.isna(x) else x
            y = None if (isinstance(y, float) and math.isnan(y)) or pd.isna(y) else y
            if not _values_equal(x, y):
                return CompareResult(
                    name, False, len(spark_pdf), len(oracle_pdf),
                    f"value mismatch in {col!r} at sorted row {i}: spark={x!r} oracle={y!r}",
                )
    return CompareResult(name, True, len(spark_pdf), len(oracle_pdf))


def run_compare(spark, name: str, sf_dir: str) -> CompareResult:
    """Run one catalog query against its oracle (or rows-only check)."""
    from .queries import catalog
    from .session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # nanos shim, UTC

    q = catalog()[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    if q.sql is None:
        ok = len(spark_pdf) > 0
        return CompareResult(name, ok, len(spark_pdf), -1, "rows-only check")
    con = duck_connection(sf_dir)
    try:
        oracle_pdf = con.execute(q.sql).fetchdf()
    finally:
        con.close()
    return compare_frames(name, spark_pdf, oracle_pdf)
