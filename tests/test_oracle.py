"""The correctness gate, run locally: every declared catalog query is
compared against its DuckDB oracle at sf0.001 (fast) — the driver runs
the same comparison at sf0.01. Rows-only queries must return rows.
"""

from __future__ import annotations

import pytest

from production_ready_ds_spark.oracle import run_compare
from production_ready_ds_spark.queries import catalog

ALL = sorted(catalog())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, sf_small, name):
    res = run_compare(spark, name, sf_small)
    assert res.ok, f"{name}: {res.detail} (spark_rows={res.spark_rows}, oracle_rows={res.oracle_rows})"


def test_curation_oracles_run_in_bounded_memory(sf_small):
    """The composed curation oracles must fit a small DuckDB memory cap.

    Their stage pair sets (MinHash, dHash, cosine) are each read three
    or four times downstream; DuckDB 1.0 inlines a plain CTE at every
    reference, so the heavy fragments were planned over and over and
    the oracle ran out of memory (12.5 GiB at sf0.001). Materialized
    pair sets keep the whole oracle well under 1 GB. DuckDB only — no
    Spark — so a regression fails here in seconds.
    """
    from production_ready_ds_spark.oracle import duck_connection

    con = duck_connection(sf_small)
    try:
        con.execute("SET memory_limit='1GB'")
        n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        ingest = con.execute(catalog()["q_curation_ingest"].sql).fetchall()
        report = con.execute(catalog()["q_curation_report"].sql).fetchall()
    finally:
        con.close()
    assert n_docs == 500
    assert len(ingest) == n_docs
    assert report


def test_no_hugeint_reaches_oracle_output(sf_small):
    """Catalog-wide dtype sweep: no oracle SQL may emit a HUGEINT column.

    DuckDB widens SUM over BIGINT to HUGEINT, which ``fetchdf()``
    converts to float64 — the driver then hashes ``47.0`` against
    Spark's ``47`` and fails (round 6's one red row, q_pack_bestfit).
    DESCRIBE types the output without executing, so the whole 200+
    catalog sweeps in seconds; any offender needs CAST(... AS BIGINT)
    in the oracle SQL.
    """
    from production_ready_ds_spark.oracle import duck_connection

    con = duck_connection(sf_small)
    offenders = []
    try:
        for name, q in sorted(catalog().items()):
            if q.sql is None:
                continue
            for col_name, col_type, *_ in con.execute(f"DESCRIBE {q.sql}").fetchall():
                if "HUGEINT" in str(col_type).upper():
                    offenders.append((name, col_name, col_type))
    finally:
        con.close()
    assert not offenders, (
        f"oracle SQL emits HUGEINT (becomes float64 in pandas, breaking the "
        f"driver's stringify-hash vs Spark long): {offenders}"
    )


def test_compare_frames_rejects_int_vs_float_dtype():
    """The local harness must be driver-faithful: the driver stringifies
    before hashing, so a NULL-free int column vs float column pair is a
    FAIL even when the values compare equal (47 == 47.0)."""
    import pandas as pd

    from production_ready_ds_spark.oracle import compare_frames

    ints = pd.DataFrame({"x": pd.Series([47, 3], dtype="int64")})
    floats = pd.DataFrame({"x": pd.Series([47.0, 3.0], dtype="float64")})
    res = compare_frames("dtype_skew", ints, floats)
    assert not res.ok and "dtype-class mismatch" in res.detail

    # NULLs force pandas int->float promotion; that representation
    # artifact must still pass (both engines stringify NULL the same).
    with_null = pd.DataFrame({"x": pd.Series([47.0, None], dtype="float64")})
    res2 = compare_frames("null_promo", with_null, with_null.copy())
    assert res2.ok, res2.detail


def test_hll_sketch_estimate_close_to_exact(spark, sf_small):
    """q_sketch_hll now carries its 10% guarantee as an oracle boolean;
    here the raw estimates (recomputed with the same expressions) are
    held to a tighter 5% against the exact distinct counts, and every
    contract boolean must be TRUE."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.tables import load

    rows = catalog()["q_sketch_hll"].fn(spark, sf_small).collect()
    assert rows and all(r.within_rel_error for r in rows)
    e = load(spark, sf_small, "events")
    per_type = {
        r.event_type: (r.approx, r.exact)
        for r in e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx"),
            F.count_distinct("user_id").alias("exact"),
        )
        .collect()
    }
    for name, (approx, exact) in per_type.items():
        tol = max(3.0, 0.05 * exact)
        assert abs(approx - exact) <= tol, (name, approx, exact)
