"""Daily classification pipeline: Fetch(date) → Clean(date) →
Classify(date), gated by a ModelExists sensor.

Rebuild of the reference's 01_classification_pipeline.py DAG with the
same semantics:

- Fetch pulls the day's records with a time-range predicate pushed into
  the source (reference S2, 01_classification_pipeline.py:44-47) — here
  a partition-prunable ``ts ∈ [date, date+1d)`` filter on the ``events``
  table joined to its day's documents (deterministic stand-in for the
  Reddit time-interval API).
- Clean applies the same tokenize/stop/stem chain as training.
- ModelExists is a pure sensor (reference O3,
  01_classification_pipeline.py:129-133): if the versioned model is
  missing the daily DAG blocks, it does NOT trigger training.
- Classify loads the PipelineModel (once per saved model and session,
  ``filecache.load_model``; the reference reloads it in every
  daily spark-submit), scores, labels via CASE WHEN
  (reference 01_classification_pipeline.py:195-198) and writes the
  day's partition ``daily/date=<iso>/`` — Hive-partition layout instead
  of the reference's date-in-path CSV (S7), so a reader of the whole
  root gets a date-partition-pruned table for free.

Backfill: ``range_daily(Classify, stop=…, days_back=4)`` reproduces the
reference's RangeDailyBase trailing window (O4, run_pipeline.sh:6-11).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import functions as F

from ..filecache import load_model
from ..functions.stemmer import stem_tokens_udf
from ..functions.text import remove_stopwords, tokens_expr
from ..tables import load
from ..workflow import DateParameter, ExternalTask, IntParameter, Parameter, ParquetTarget, SparkTask


def _day_dir(root: str, stage: str, date: _dt.date) -> str:
    return os.path.join(root, "daily", stage, f"date={date.isoformat()}")


class FetchDaily(SparkTask):
    """Day-interval source: events of [date, date+1d) with the day's
    documents attached (doc_id = user_id % 500 keeps it deterministic)."""

    date = DateParameter()
    data_root = Parameter()
    sf_dir = Parameter()

    def output(self):
        return ParquetTarget(_day_dir(self.data_root, "raw", self.date))

    def main(self, spark):
        start = self.date.isoformat()
        end = (self.date + _dt.timedelta(days=1)).isoformat()
        e = load(spark, self.sf_dir, "events")
        # temporal predicate pushed to the parquet scan (reference S2)
        day_events = e.filter(
            (F.col("ts") >= F.lit(start).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(end).cast("timestamp_ntz"))
        )
        d = load(spark, self.sf_dir, "documents").select("doc_id", "text", "lang")
        raw = (
            day_events.withColumn("doc_id", F.pmod(F.col("user_id"), F.lit(500)).cast("long"))
            .join(d, "doc_id")
            .select("event_id", "ts", "user_id", "doc_id", "text", "lang")
        )
        raw.write.mode("overwrite").parquet(self.output().path)


class CleanDaily(SparkTask):
    """Per-day cleaning (reference Clean,
    01_classification_pipeline.py:94-126)."""

    date = DateParameter()
    data_root = Parameter()
    sf_dir = Parameter()

    def requires(self):
        return FetchDaily(date=self.date, data_root=self.data_root, sf_dir=self.sf_dir)

    def output(self):
        return ParquetTarget(_day_dir(self.data_root, "cleaned", self.date))

    def main(self, spark):
        raw = spark.read.parquet(self.requires().output().path)
        stem = stem_tokens_udf()
        cleaned = (
            raw.withColumn("tokens", remove_stopwords(tokens_expr(F.col("text"))))
            .withColumn("stemmed", stem(F.col("tokens")))
            .select(
                "event_id",
                "doc_id",
                F.array_join("stemmed", " ").alias("cleaned_words"),
                "lang",
            )
        )
        cleaned.write.mode("overwrite").parquet(self.output().path)


class ModelExists(ExternalTask):
    """Sensor on the versioned model produced by the training DAG."""

    version = IntParameter(default=1)
    data_root = Parameter()

    def output(self):
        return ParquetTarget(
            os.path.join(self.data_root, f"model/{self.version}/model/metadata")
        )

    @property
    def model_path(self) -> str:
        return os.path.join(self.data_root, f"model/{self.version}/model")


class ClassifyDaily(SparkTask):
    """Score the day's cleaned records with the versioned model and
    label via CASE WHEN (reference Classify,
    01_classification_pipeline.py:165-207) — but writing partitioned
    parquet, never collecting to the driver (the reference's
    toPandas()-then-CSV is its own flagged anti-pattern,
    01_classification_pipeline.py:200-202)."""

    date = DateParameter()
    version = IntParameter(default=1)
    data_root = Parameter()
    sf_dir = Parameter()

    def requires(self):
        return [
            ModelExists(version=self.version, data_root=self.data_root),
            CleanDaily(date=self.date, data_root=self.data_root, sf_dir=self.sf_dir),
        ]

    def output(self):
        return ParquetTarget(_day_dir(self.data_root, "ergebnis", self.date))

    def main(self, spark):
        from pyspark.ml import PipelineModel

        sensor, clean = self.requires()
        model = load_model(spark, PipelineModel.load, sensor.model_path)
        cleaned = spark.read.parquet(clean.output().path)
        scored = model.transform(cleaned)
        result = scored.select(
            "event_id",
            "doc_id",
            "lang",
            F.col("prediction").cast("double").alias("prediction"),
            F.when(F.col("prediction") == 1.0, "english")
            .otherwise("other")
            .alias("prediction_label"),
        )
        result.write.mode("overwrite").parquet(self.output().path)
