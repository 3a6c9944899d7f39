"""A PySpark Python DataSource modeling the reference's REST API source.

The reference fetches posts from the Reddit API driver-side with pandas
(S1: hot posts per subreddit, 00_training_pipeline.py:20-21,37-42; S2:
time-interval fetch, 01_classification_pipeline.py:28-48). The
Spark-native shape is a custom DataSource (PySpark 4 Python Data Source
API): partition planning splits the keyspace so FETCHES RUN ON
EXECUTORS in parallel — not on the driver — and the time-range option
is evaluated inside each partition reader (source-level predicate
pushdown, exactly like the reference pushing the interval into the API
call).

No network exists in this environment, so the reader generates
deterministic synthetic posts (seeded per subreddit+slice); swapping
``_fetch_slice`` for a real HTTP call changes nothing structurally.
"""

from __future__ import annotations

import zlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_SCHEMA = "id string, title string, selftext string, subreddit string, created_ts long"

_WORDS = (
    "data science spark model pipeline cluster train feature label "
    "throne dragon winter castle knight raven sword crown battle north"
).split()


def _fetch_slice(subreddit: str, slice_id: int, limit: int, start_ts: int, end_ts: int):
    """Deterministic stand-in for one API page fetch (executor-side)."""
    rows = []
    for i in range(limit):
        uid = slice_id * limit + i
        # zlib.crc32, not builtin hash(): str hashing is PYTHONHASHSEED-
        # salted per process, so rows must not depend on it — executors
        # and restarted drivers would each see different "API" data.
        rng = zlib.crc32(f"{subreddit}:{uid}".encode()) & 0x7FFFFFFF
        ts = start_ts + rng % max(end_ts - start_ts, 1)
        title = " ".join(
            _WORDS[(rng >> (3 * j)) % len(_WORDS)] for j in range(4)
        )
        rows.append(
            (
                f"{subreddit[:2]}{uid:06x}",
                title,
                "" if rng % 3 == 0 else f"body {title}",
                subreddit,
                ts,
            )
        )
    return rows


class _SubredditSlice(InputPartition):
    def __init__(self, subreddit: str, slice_id: int, limit: int, start_ts: int, end_ts: int):
        self.subreddit = subreddit
        self.slice_id = slice_id
        self.limit = limit
        self.start_ts = start_ts
        self.end_ts = end_ts


class _PostsReader(DataSourceReader):
    def __init__(self, options):
        self.subreddits = str(options.get("subreddits", "datascience,gameofthrones")).split(",")
        self.limit = int(options.get("limit", 500))
        self.slices = int(options.get("slices", 4))
        self.start_ts = int(options.get("start_ts", 0))
        self.end_ts = int(options.get("end_ts", 2_000_000_000))

    def partitions(self):
        per_slice = max(self.limit // self.slices, 1)
        return [
            _SubredditSlice(sub, s, per_slice, self.start_ts, self.end_ts)
            for sub in self.subreddits
            for s in range(self.slices)
        ]

    def read(self, partition: _SubredditSlice):
        yield from _fetch_slice(
            partition.subreddit,
            partition.slice_id,
            partition.limit,
            partition.start_ts,
            partition.end_ts,
        )


class PostsApiDataSource(DataSource):
    """``spark.read.format("posts_api")`` with options subreddits,
    limit, slices, start_ts, end_ts (the time-range pushdown)."""

    @classmethod
    def name(cls) -> str:
        return "posts_api"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _PostsReader(self.options)


def register_posts_api(spark) -> None:
    spark.dataSource.register(PostsApiDataSource)
