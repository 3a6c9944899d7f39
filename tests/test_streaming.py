"""Streaming ≡ batch equivalence (SURVEY.md §5.2(3)): each Structured
Streaming operator is run to completion with availableNow over the
sf0.001 events and compared against its batch twin on the same data —
the standard oracle for streaming windows."""

from __future__ import annotations

import pytest

from production_ready_ds_spark import streaming
from production_ready_ds_spark.tables import load


def _run_to_memory(spark, sdf, name, mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df):
    return sorted(map(str, df.collect()))


def test_tumbling_equals_batch(spark, sf_small):
    stream = streaming.stream_events(spark, sf_small)
    got = _run_to_memory(spark, streaming.tumbling_counts(stream), "t_tumbling", "complete")

    from production_ready_ds_spark.queries import catalog

    want = catalog()["q_event_tumbling"].fn(spark, sf_small)
    assert _rows(got) == _rows(want)


def test_sliding_equals_batch(spark, sf_small):
    stream = streaming.stream_events(spark, sf_small)
    got = _run_to_memory(spark, streaming.sliding_counts(stream), "t_sliding", "complete")

    from production_ready_ds_spark.queries import catalog

    want = catalog()["q_event_sliding"].fn(spark, sf_small)
    assert _rows(got) == _rows(want)


def test_session_window_equals_batch_sessionization(spark, sf_small):
    """session_window must produce the same (user, session) partition of
    events as the batch lag/cumsum sessionization: same session count
    and event count per user."""
    stream = streaming.stream_events(spark, sf_small)
    got = _run_to_memory(spark, streaming.session_counts(stream), "t_session", "complete")

    from pyspark.sql import functions as F

    per_user = got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").cast("long").alias("n_events")
    )

    from production_ready_ds_spark.queries import catalog

    want = catalog()["q_event_session"].fn(spark, sf_small).select(
        "user_id", "n_sessions", "n_events"
    )
    assert _rows(per_user) == _rows(want)


def test_dedup_stream_drops_duplicate_ids(spark, sf_small):
    stream = streaming.stream_events(spark, sf_small)
    got = _run_to_memory(spark, streaming.dedup_stream(stream), "t_dedup", "append")
    batch = load(spark, sf_small, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_foreach_batch_daily_sink(spark, sf_small, tmp_path):
    out = str(tmp_path / "daily_events")
    stream = streaming.stream_events(spark, sf_small)
    q = (
        stream.writeStream.foreachBatch(streaming.foreach_batch_daily_sink(out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    written = spark.read.parquet(out)
    batch = load(spark, sf_small, "events")
    assert written.count() == batch.count()
    # day-partitioned layout, prunable scan
    n_days = written.select("date").distinct().count()
    assert n_days == batch.selectExpr("to_date(ts) d").distinct().count()


def test_stateful_running_totals_across_batches(spark, sf_small, tmp_path):
    """applyInPandasWithState carries per-user state across MULTIPLE
    micro-batches (3 files × maxFilesPerTrigger=1); the final cumulative
    totals must equal the batch aggregate."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.streaming.events import running_user_totals

    # stage events as 3 files → 3 micro-batches
    src = str(tmp_path / "events_split")
    batch = load(spark, sf_small, "events")
    batch.withColumn("part", F.pmod("event_id", F.lit(3))).repartition(3, "part").drop(
        "part"
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"

    # last update per user == cumulative totals == batch groupBy
    got = (
        spark.table("t_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    want = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert _rows(got) == _rows(want)


def test_stateful_v2_running_totals_across_batches(spark, sf_small, tmp_path):
    """transformWithStateInPandas (state v2) must produce the same
    cumulative per-user totals as the v1 applyInPandasWithState
    operator and the batch aggregate, across multiple micro-batches.

    Skipped where google.protobuf is unavailable: Spark's v2 state
    protocol serializes handle messages with protobuf, and this
    environment cannot install packages — the operator itself is
    importable and its plan builds either way."""
    import importlib.util

    # find_spec("google.protobuf") imports the parent package first and
    # raises ModuleNotFoundError when `google` itself is absent.
    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        import pytest as _pytest

        _pytest.skip("google.protobuf not installed — v2 state protocol unavailable")
    from pyspark.sql import functions as F

    from production_ready_ds_spark.streaming.events import running_user_totals_v2

    src = str(tmp_path / "events_split_v2")
    batch = load(spark, sf_small, "events")
    batch.withColumn("part", F.pmod("event_id", F.lit(3))).repartition(3, "part").drop(
        "part"
    ).write.parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            running_user_totals_v2(stream)
            .writeStream.format("memory")
            .queryName("t_state_v2")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"

        got = (
            spark.table("t_state_v2")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
        )
        want = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stream_click_purchase_join_matches_batch(spark, sf_small, tmp_path):
    """The stream-stream interval join over micro-batched files must
    produce exactly the batch join's pairs. The test watermark (40 days)
    exceeds the dataset's 30-day span because the file splits are not
    time-ordered — a production-sized watermark would legitimately drop
    cross-batch late data and the comparison would measure the split,
    not the operator."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.streaming.events import click_purchase_join

    src = str(tmp_path / "events_ssj")
    batch = load(spark, sf_small, "events")
    batch.withColumn("part", F.pmod("event_id", F.lit(3))).repartition(3, "part").drop(
        "part"
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        click_purchase_join(stream, watermark="40 days")
        .writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"

    got = spark.table("t_ssj")
    clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("c_user").alias("user_id"),
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.round("purchase_value", 2).alias("purchase_value"),
        )
    )
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_classifier_matches_batch_decisions(spark, sf_small):
    """q_stream_classifier must emit the EXACT per-doc (score, keep)
    decisions of the batch q_quality_classifier over the same corpus —
    featurize+score are row-wise, so micro-batch boundaries cannot
    change a decision, and the trainer is deterministic on fixed
    input (the q_stream_quality stream≡batch evidence form for the
    rows-only model gate)."""
    from production_ready_ds_spark.queries import catalog

    cat = catalog()
    batch = {
        r.doc_id: (r.score, r.keep)
        for r in cat["q_quality_classifier"].fn(spark, sf_small).collect()
    }
    stream = {
        r.doc_id: (r.score, r.keep)
        for r in cat["q_stream_classifier"].fn(spark, sf_small).collect()
    }
    assert stream == batch


def test_stream_index_is_served_behind_its_completion_marker(spark, sf_small):
    """The stream-built TermStore is re-served only behind the _SUCCESS
    marker its build writes once the stream drained. Without it (a
    crash mid-stream) the store is wiped and rebuilt; with it a warm
    call starts no Spark job (no corpus count to prove completeness)."""
    import os
    import uuid

    from production_ready_ds_spark.queries.streaming_queries import (
        _stream_built_termstore,
    )

    store = _stream_built_termstore(spark, sf_small)
    marker = os.path.join(store.root, "_SUCCESS")
    assert os.path.exists(marker)

    os.remove(marker)
    leftover = os.path.join(store.root, "leftover-of-a-crashed-build")
    open(leftover, "w").close()
    rebuilt = _stream_built_termstore(spark, sf_small)
    assert rebuilt.root == store.root
    assert os.path.exists(marker) and not os.path.exists(leftover)
    assert rebuilt.stats()[0] == load(spark, sf_small, "documents").count()

    sc = spark.sparkContext
    group = f"stream-index-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "warm stream index")
    try:
        warm = _stream_built_termstore(spark, sf_small)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm.root == store.root
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
