"""Physical-plan auditing: parse .explain output into checkable facts.

The scale discipline this engine claims — filters pushed to the scan,
columns pruned, small dims broadcast, minimal shuffles, wide codegen
stages — is enforceable, not aspirational: tests/test_plans.py asserts
these properties on the headline queries so a regression that silently
de-optimizes a plan fails CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def _split_top_level(entry: str) -> list[str]:
    """Split a PushedFilters payload on commas OUTSIDE (), [] — an
    In-list filter like ``In(lang, [de,fr])`` is ONE entry, and its
    closing ``]`` must not terminate the whole list."""
    parts: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(entry):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(entry[start:i].strip())
            start = i + 1
    tail = entry[start:].strip()
    if tail:
        parts.append(tail)
    return [p for p in parts if p]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans.

    The payload is matched to the LAST ``]`` on the line (greedy), not
    the first — ``In(col, [v1,v2])`` carries a ``]`` inside the list —
    and split on top-level commas only, so every pushed filter of a
    multi-predicate scan is reported, not just the first.
    """
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*)\]", explain_str(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(_split_top_level(entry))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning proof)."""
    schemas: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        schemas.append(cols)
    return schemas


def has_broadcast_join(df: DataFrame) -> bool:
    s = explain_str(df, "simple")
    return "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s


def broadcast_join_count(df: DataFrame) -> int:
    # simple mode lists each operator exactly once (formatted mode
    # repeats every node in the detail section → double counting)
    s = explain_str(df, "simple")
    return s.count("BroadcastHashJoin") + s.count("BroadcastNestedLoopJoin")


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (each is a full shuffle of its
    input — THE scale-limiting primitive)."""
    s = explain_str(df, "simple")
    return len(re.findall(r"\bExchange\b", s)) - len(re.findall(r"\bBroadcastExchange\b", s))


def exchange_input_columns(df: DataFrame) -> list[list[str]]:
    """Column names flowing INTO each shuffle Exchange (formatted-plan
    ``(N) Exchange`` sections' ``Input [..]`` line, attribute ids
    stripped). The shuffle-width audit: a narrow-join claim ("text
    never shuffles") is checkable as 'no Exchange input contains the
    wide column' — matching on the Exchange's partitioning ARGUMENTS
    would be vacuous, keys are narrow by construction."""
    out: list[list[str]] = []
    blocks = re.split(r"\(\d+\) Exchange", explain_str(df))
    for block in blocks[1:]:
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        if m:
            cols = [c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()]
            out.append(cols)
    return out
