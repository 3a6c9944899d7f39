"""Interchange-format round-trip queries: write the documents table to
a format, read it back, and aggregate a content checksum — so format
FIDELITY itself sits under the driver's value-hash gate, not just under
unit tests.

Why this is a real query family: a corpus lake ingests and re-exports
between formats constantly (JSONL crawl dumps → parquet → XML/ORC
hand-offs), and the failure mode is silent — an encoding or escaping
bug (XML entity escaping, JSON unicode surrogates, ORC type coercion)
drops or mangles characters while row counts stay right. Each query
here writes the CURRENT corpus through the format under test and
re-aggregates (count, char totals, md5-prefix text checksum) per lang;
the shared oracle computes the identical aggregate over the ORIGINAL
parquet, so any loss anywhere in write→encode→read hashes red.

Scale shape: one write + one read + one map-side-combinable aggregate —
all linear, no shuffles beyond the |langs|-row agg. The staging
directory is corpus-keyed under /tmp (bounded footprint, the
q_stream_index convention) and REWRITTEN on every run (mode=overwrite
under an flock): rewriting is trivially cheap at gate scale and leaves
no stale-recipe reuse class at all.

Reference grounding: the reference's only interchange surface is the
daily CSV export (`01_classification_pipeline.py:203-207`); these
queries are the same contract held over every format this engine
serves, verified end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..filecache import derived_dir
from ..functions.text import md5_prefix_int
from ..tables import load, table_path
from . import query

#: one oracle for every format twin — the aggregate is over the
#: ORIGINAL parquet, so each format's write→read path must reproduce
#: the corpus exactly to hash green
_ROUNDTRIP_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
            AS BIGINT) AS text_checksum
FROM documents GROUP BY lang
"""

_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """The shared post-read aggregate: per-lang count, char total, and
    a sum-of-md5-prefix text checksum (functions/text.py
    md5_prefix_int, the ONE cross-engine hash definition). Summing the
    per-doc hash makes the checksum order-independent while any single
    mangled character moves it."""
    h = md5_prefix_int(F.col("text"))
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(h).cast("long").alias("text_checksum"),
    )


def _staging_dir(sf_dir: str, fmt: str):
    """The locked documents-keyed staging :func:`.filecache.derived_dir`
    of one format round trip."""
    return derived_dir(f"prds_fmt_{fmt}", 1, table_path(sf_dir, "documents"))


@query("q_xml_roundtrip", category="sources", sql=_ROUNDTRIP_SQL)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → XML (Spark 4 native source, entity escaping and all)
    → read back → checksum aggregate, hashed against the original
    corpus. XML is the round-trip most worth gating: &, <, > in text
    must survive escape/unescape exactly."""
    from ..sources.xml import read_xml, write_xml

    with _staging_dir(sf_dir, "xml") as out:
        write_xml(load(spark, sf_dir, "documents"), out)
    return _roundtrip_agg(read_xml(spark, out, _DOCS_SCHEMA))


@query("q_jsonl_roundtrip", category="sources", sql=_ROUNDTRIP_SQL)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → gzipped JSONL (the crawl-dump shape) → read back →
    checksum aggregate; unicode escapes and gzip framing under the
    hash gate."""
    from ..sources.jsonl import read_jsonl, write_jsonl

    with _staging_dir(sf_dir, "jsonl") as out:
        write_jsonl(load(spark, sf_dir, "documents"), out, compress=True)
    return _roundtrip_agg(read_jsonl(spark, out, _DOCS_SCHEMA))


@query("q_orc_roundtrip", category="sources", sql=_ROUNDTRIP_SQL)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → ORC (native vectorized reader) → read back →
    checksum aggregate; type mapping fidelity under the hash gate."""
    from ..sources.orc import read_orc, write_orc

    with _staging_dir(sf_dir, "orc") as out:
        write_orc(load(spark, sf_dir, "documents"), out)
    return _roundtrip_agg(read_orc(spark, out))


_COMPACT_TARGET = 200  # rows per compacted file — forces a multi-file layout at every SF

_COMPACT_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
            AS BIGINT) AS text_checksum,
       (SELECT CAST((COUNT(*) + {_COMPACT_TARGET - 1}) // {_COMPACT_TARGET}
                    AS BIGINT) FROM documents) AS n_files
FROM documents GROUP BY lang
"""


@query("q_compact_files", category="layout", sql=_COMPACT_SQL)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the driver hash gate: fragment the
    corpus into 64 micro-batch-sized parquet files (the lake shape a
    streaming ingest leaves behind — at 100 TB the open/footer
    overhead of kilobyte files dominates scans), rewrite it with
    operators/layout.compact_parquet into ⌈rows / target⌉ right-sized
    files, and aggregate the shared round-trip checksum PLUS the
    OBSERVED post-compaction file count. The oracle recomputes the
    checksum over the original corpus and the expected ⌈n/target⌉
    arithmetically, so the gate verifies both content fidelity (no
    row lost or mangled by the rewrite) and the layout math (the
    rewrite actually produced the right-sized file count).

    Scale shape: compaction is one linear read + AQE-planned
    repartition + write — no joins, one width-n_files shuffle;
    production lakes run it continuously on recent partitions, never
    the whole table (operators/layout.py docstring carries the
    single-writer/table-format contract)."""
    from ..operators.layout import compact_parquet

    with _staging_dir(sf_dir, "compact") as out:
        (
            load(spark, sf_dir, "documents")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(out)
        )
        n_files = compact_parquet(spark, out, target_rows_per_file=_COMPACT_TARGET)
    return _roundtrip_agg(spark.read.parquet(out)).withColumn(
        "n_files", F.lit(n_files).cast("long")
    )


_UPSERT_SQL = """
    WITH merged AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 10 = 3
                  THEN CAST(c_custkey AS DOUBLE) / 100
                  ELSE c_acctbal END AS bal
      FROM customer
      UNION ALL
      SELECT c_custkey + 10000000, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 100 = 7
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey % 10 = 3 AND c_custkey < 10000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CAST(FLOOR(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS balance_cents
    FROM merged GROUP BY c_mktsegment
    """


@query("q_upsert_roundtrip", category="layout", sql=_UPSERT_SQL)
def q_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE-upsert under the driver hash gate, completing the
    warehouse-maintenance trio (compaction, SCD2 history, upsert) on
    the 100 TB path: the customer dimension is seeded as a
    segment-PARTITIONED parquet lake, then one update batch flows
    through operators/upsert.upsert_parquet — every c_custkey % 10 == 3
    row gets a corrected balance (replace-on-key), every % 100 == 7
    key is re-inserted under a shifted key (insert-on-new), and Spark's
    dynamic partition-overwrite rewrites ONLY the touched segment
    directories (cost proportional to touched partitions, never the
    table). The read-back aggregate reports per-segment row counts,
    the replaced-row count, and the balance total on the exact cent
    grid (FLOOR(bal·100 + 0.5) per row BEFORE the sum — order-free
    BIGINT addition, no float-summation hazard); the oracle derives
    the merged table arithmetically from the original corpus, so a row
    lost, duplicated, or stale anywhere in seed → merge → dynamic
    overwrite → read hashes red.

    Scale shape: the merge is one anti-join of the touched partitions
    against the batch keys plus a union — the exact join shape
    Delta/Iceberg MERGE executes, with the documented
    single-writer/partition-pinned-rows contract in upsert.py."""
    from ..operators.upsert import upsert_parquet

    cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    cust = load(spark, sf_dir, "customer").select(*cols)
    # keyed off the CUSTOMER table — _staging_dir keys on documents,
    # the wrong source table for this query (the q_stream_scd2 key)
    with derived_dir("prds_fmt_upsert", 1, table_path(sf_dir, "customer")) as out:
        import shutil

        shutil.rmtree(out, ignore_errors=True)  # fresh seed every run
        cust.write.partitionBy("c_mktsegment").parquet(out)
        updates = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_acctbal", F.col("c_custkey").cast("double") / 100)
            .unionByName(
                cust.filter(F.col("c_custkey") % 100 == 7).withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(10000000)
                )
            )
        )
        upsert_parquet(
            spark, out, updates, ["c_custkey"], partition_col="c_mktsegment"
        )
    merged = spark.read.parquet(out)
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(
                (F.col("c_custkey") % 10 == 3) & (F.col("c_custkey") < 10000000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_updated"),
        F.sum(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("balance_cents"),
    )
