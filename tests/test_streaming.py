"""Structured Streaming surface: windows, session windows, streaming dedup,
foreachBatch sink reuse — driven with the rate/memory test sources."""

import time

from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
    session_aggregate,
    streaming_dedup,
    tumbling_counts,
)


def _run_stream_once(df, name, mode="append"):
    # append mode + watermark only emits CLOSED windows; aggregation tests
    # use complete mode so still-open windows are visible too
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _events_stream(spark, tmp_path, rows):
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp, v double").write.mode(
        "overwrite"
    ).parquet(src)
    return spark.readStream.schema("user_id long, ts timestamp, v double").parquet(src)


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_tumbling_counts_stream(spark, tmp_path):
    rows = [
        (1, _ts("2024-01-01 10:05:00"), 1.0),
        (1, _ts("2024-01-01 10:20:00"), 1.0),
        (1, _ts("2024-01-01 11:05:00"), 1.0),
    ]
    stream = _events_stream(spark, tmp_path, rows)
    agg = tumbling_counts(stream, "ts", "1 hour", keys=["user_id"])
    _run_stream_once(agg, "tumbling_test", mode="complete")
    got = {
        str(r["window_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got["2024-01-01 10:00:00"] == 2
    assert got["2024-01-01 11:00:00"] == 1


def test_session_window_stream(spark, tmp_path):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1.0),
        (1, _ts("2024-01-01 10:10:00"), 1.0),  # same session (< 30 min gap)
        (1, _ts("2024-01-01 12:00:00"), 1.0),  # new session
    ]
    stream = _events_stream(spark, tmp_path, rows)
    agg = session_aggregate(stream, "ts", "user_id", gap="30 minutes")
    _run_stream_once(agg, "session_test", mode="complete")
    rows_out = spark.sql("SELECT * FROM session_test").collect()
    assert sorted(r["n_events"] for r in rows_out) == [1, 2]


def test_streaming_dedup(spark, tmp_path):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1.0),
        (1, _ts("2024-01-01 10:00:30"), 2.0),  # dup key within watermark
        (2, _ts("2024-01-01 10:01:00"), 3.0),
    ]
    stream = _events_stream(spark, tmp_path, rows)
    deduped = streaming_dedup(stream, ["user_id"], "ts", delay="1 hour")
    _run_stream_once(deduped, "dedup_test")
    assert spark.sql("SELECT count(*) AS n FROM dedup_test").collect()[0]["n"] == 2


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches —
    two files processed one per trigger, totals accumulate."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        stateful_running_totals,
    )

    src = str(tmp_path / "stateful_src")
    schema = "user_id long, ts timestamp, v double"
    batch1 = [(1, _ts("2024-01-01 10:00:00"), 1.0), (2, _ts("2024-01-01 10:01:00"), 5.0)]
    batch2 = [(1, _ts("2024-01-01 10:30:00"), 2.5)]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    totals = stateful_running_totals(stream, "user_id", "ts", "v")
    _run_stream_once(totals, "stateful_test", mode="update")

    # update mode emits once per key per batch → keep the final emission
    final = {
        r["user_id"]: r
        for r in spark.sql(
            "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
            "(PARTITION BY user_id ORDER BY n_events DESC) AS rn "
            "FROM stateful_test) WHERE rn = 1"
        ).collect()
    }
    assert final[1]["n_events"] == 2 and final[1]["total_value"] == 3.5
    assert final[2]["n_events"] == 1 and final[2]["total_value"] == 5.0
    assert str(final[1]["last_ts"]) == "2024-01-01 10:30:00"


def test_foreach_batch_scd2_sink(spark, tmp_path):
    """The foreachBatch bridge must support every batch load mode — here
    SCD2: two micro-batches of snapshots merge into a versioned history."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import TargetSpec
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        foreach_batch_writer,
    )

    src = str(tmp_path / "scd2_stream_src")
    schema = "k long, v string, snap_ts timestamp"
    # batch 1: k=1 v=a; batch 2: k=1 changed to b, k=2 new
    spark.createDataFrame([(1, "a", _ts("2024-01-01 00:00:00"))], schema).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(
        [(1, "b", _ts("2024-01-02 00:00:00")), (2, "x", _ts("2024-01-02 00:00:00"))], schema
    ).write.mode("append").parquet(src)

    out = str(tmp_path / "scd2_stream_target")
    spec = TargetSpec(
        data_target="local",
        path=out,
        file_format="parquet",
        load_type="scdType2Insert",
        scd2_keys=["k"],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .drop("snap_ts")
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_writer(spec))
        .option("checkpointLocation", str(tmp_path / "scd2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    hist = spark.read.parquet(out).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["k"], []).append(r)
    # k=1: one closed version (a) + one current (b); k=2: one current
    assert sorted(r["v"] for r in by_key[1]) == ["a", "b"]
    assert sum(r["is_current"] for r in by_key[1]) == 1
    assert next(r["v"] for r in by_key[1] if r["is_current"]) == "b"
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]


def test_foreach_batch_reuses_batch_writer(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import TargetSpec
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        foreach_batch_writer,
    )

    rows = [(1, _ts("2024-01-01 10:00:00"), 1.0)]
    stream = _events_stream(spark, tmp_path, rows)
    out_path = str(tmp_path / "stream_out")
    spec = TargetSpec(data_target="local", path=out_path, file_format="parquet", save_mode="append")
    q = (
        stream.writeStream.foreachBatch(foreach_batch_writer(spec))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_path).count() == 1


def test_streaming_load_into_delta_lite_is_exactly_once(spark, tmp_path):
    """A streaming config job loading a delta-lite target commits each
    micro-batch with txn=(<query id>, batch_id): replaying a batch through
    the engine's batch writer (what a restart after a failure between
    commit and offset-log write does) lands its rows once. A new
    checkpoint is a new query, so its batch 0 is not taken for a replay."""
    import os
    import shutil

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import TargetSpec
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import (
        Orchestrator,
    )
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.delta_lite import (
        load_snapshot,
        read_delta_lite,
    )
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        foreach_batch_writer,
    )

    src, out, temp = (str(tmp_path / d) for d in ("src", "out", "temp"))
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    batch.write.parquet(src)
    target = {
        "dataTarget": "local",
        "dataFrameName": "src",
        "loadType": "simpleInsert",
        "path": out,
        "outputDataProperties": {"fileFormat": "deltalake"},
    }
    cfg = {
        "configs": {
            "name": "stream_delta",
            "s3TempPath": temp,
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src,
                    "streaming": "true",
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_3": {"target_record_insert": [target]},
    }
    Orchestrator(spark).run(cfg)
    ckpt = os.path.join(temp, "stream_ckpt", "stream_delta", "src")
    (query_id,) = load_snapshot(out).txns
    assert load_snapshot(out).txns == {query_id: 0}
    write = foreach_batch_writer(TargetSpec.from_dict(target), ckpt)
    write(batch, 0)  # the replayed batch
    assert read_delta_lite(spark, out).count() == 2

    shutil.rmtree(ckpt)
    spark.createDataFrame([(3, "c")], "k int, v string").write.mode("append").parquet(src)
    Orchestrator(spark).run(cfg)
    assert sorted(r.k for r in read_delta_lite(spark, out).collect()) == [1, 1, 2, 2, 3]


def test_interval_join_stream(spark, tmp_path):
    """Stream-stream interval join: click within 30 min BEFORE purchase."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        interval_join,
    )

    purchases = _events_stream(
        spark,
        tmp_path / "p",
        [
            (1, _ts("2024-01-01 10:30:00"), 100.0),
            (2, _ts("2024-01-01 12:00:00"), 200.0),
        ],
    ).select("user_id", F.col("ts").alias("p_ts"), F.col("v").alias("amount"))
    clicks = _events_stream(
        spark,
        tmp_path / "c",
        [
            (1, _ts("2024-01-01 10:10:00"), 0.0),  # within 30 min -> joins
            (1, _ts("2024-01-01 09:00:00"), 0.0),  # too early -> dropped
            (2, _ts("2024-01-01 12:01:00"), 0.0),  # after purchase -> dropped
        ],
    ).select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))

    joined = interval_join(
        purchases.withColumnRenamed("user_id", "key_user"),
        clicks.withColumnRenamed("c_user", "key_user"),
        "key_user",
        "p_ts",
        "c_ts",
        lookback="30 minutes",
    )
    _run_stream_once(joined, "interval_join_test")
    rows = spark.sql("SELECT * FROM interval_join_test").collect()
    assert len(rows) == 1
    assert rows[0]["key_user"] == 1 and str(rows[0]["c_ts"]) == "2024-01-01 10:10:00"


def test_foreach_batch_cms_partials_merge_to_batch_sketch(spark, tmp_path):
    """Streaming sketch maintenance: each micro-batch contributes a CMS
    partial via foreachBatch; the merged partials equal the one-shot
    batch sketch EXACTLY (counter-wise sum is order-insensitive). This
    is the maintenance pattern for 'frequencies over the whole history'
    at 100 TB: partials per batch/day, bounded depthxwidth state, no
    reprocessing."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.functions.sketches import (
        cms_build,
        cms_merge,
    )

    rows = [(i % 7, _ts(f"2024-01-01 10:{i:02d}:00"), 1.0) for i in range(50)]
    # two separate source files -> maxFilesPerTrigger gives two micro-batches
    src = str(tmp_path / "cms_src")
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, v double")
    df.filter("user_id < 4").coalesce(1).write.mode("overwrite").parquet(src)
    df.filter("user_id >= 4").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    partials = []
    n_batches = []

    def sink(batch_df, batch_id):
        partials.append(cms_build(batch_df, "user_id", depth=3, width=16))
        n_batches.append(batch_id)

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert len(n_batches) >= 2  # genuinely incremental
    merged = sorted(map(tuple, cms_merge(*partials).collect()))
    whole = sorted(map(tuple, cms_build(df, "user_id", depth=3, width=16).collect()))
    assert merged == whole


def test_interval_join_left_outer_emits_null_after_expiry(spark, tmp_path):
    """left_outer interval join: matched pairs emit like inner; an
    unmatched left row emits its null-match lane once the watermark
    proves no partner can arrive. A far-future heartbeat row drives the
    watermark past every real event so all state decides at stream end."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        interval_join,
    )
    import pytest

    lrows = [
        (100, 1, _ts("2024-01-01 10:00:00")),   # has a click 10 min before
        (101, 2, _ts("2024-01-01 10:00:00")),   # no click at all
        (999, 9, _ts("2024-01-02 10:00:00")),   # heartbeat: advances watermark
    ]
    rrows = [
        (200, 1, _ts("2024-01-01 09:50:00")),
        (998, 9, _ts("2024-01-02 10:00:00")),   # heartbeat partner side
    ]
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(lrows, "pid long, k long, lts timestamp").write.parquet(lsrc)
    spark.createDataFrame(rrows, "cid long, k long, rts timestamp").write.parquet(rsrc)
    l = spark.readStream.schema("pid long, k long, lts timestamp").parquet(lsrc)
    r = spark.readStream.schema("cid long, k long, rts timestamp").parquet(rsrc)
    j = interval_join(l, r, "k", "lts", "rts", lookback="30 minutes", how="left_outer")
    _run_stream_once(j.select("pid", "cid"), "oj_test", mode="append")
    got = {(x["pid"], x["cid"]) for x in spark.sql("SELECT * FROM oj_test").collect()}
    assert (100, 200) in got          # matched
    assert (101, None) in got         # null lane emitted after expiry
    assert (999, 998) in got
    with pytest.raises(ValueError):
        interval_join(l, r, "k", "lts", "rts", how="full_outer")


def test_session_close_events_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout custom state machine: a key's session row emits
    ONLY once the watermark passes last_event + gap (driven here by a
    later event on another key); still-open sessions emit nothing."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.streaming.ops import (
        session_close_events,
        with_watermark,
    )

    src = str(tmp_path / "sessions_src")
    rows1 = [(1, _ts("2024-01-01 10:00:00"), 0.0), (1, _ts("2024-01-01 10:05:00"), 0.0)]
    rows2 = [(2, _ts("2024-01-01 12:00:00"), 0.0)]
    spark.createDataFrame(rows1, "user_id long, ts timestamp, v double").coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, "user_id long, ts timestamp, v double").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        apply_operator,
    )

    # through the config registry step, exactly as a job config would
    out = apply_operator(
        "sessionCloseEvents",
        with_watermark(stream, "ts", "10 minutes"),
        {"key_col": "user_id", "ts_col": "ts", "gap_minutes": "30"},
    )
    _run_stream_once(out, "session_close_test", mode="append")
    rows = spark.sql("SELECT * FROM session_close_test").collect()
    got = {(r["user_id"], r["session_start"].hour, r["session_end"].minute, r["n_events"]) for r in rows}
    # key 1 closed (watermark passed 10:05 + 30m); key 2 still open
    assert got == {(1, 10, 5, 2)}
