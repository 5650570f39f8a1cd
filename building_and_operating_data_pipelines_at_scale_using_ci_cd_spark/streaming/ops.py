"""Structured Streaming surface (SURVEY.md §2.8 — north-star extension).

The reference is batch-on-cron with streaming-shaped degenerate features
(incremental runs, duplicate-run checks, checkpoints — spark.json:8-12).
This module is the idiomatic streaming home for that surface:

  - watermarked tumbling / sliding / session window aggregations
  - stateful streaming dedup within a watermark
  - a foreachBatch sink that reuses the batch writers (so every phase_3
    load mode — including SCD2 — works as a streaming sink)

Scale notes: all operators here are built-in Structured Streaming state
machines (RocksDB-backed state store on a real cluster); watermarks bound
state size; the foreachBatch bridge keeps the write path identical to
batch so sink semantics don't fork.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..config import TargetSpec


def with_watermark(df: DataFrame, ts_col: str, delay: str | None = "10 minutes") -> DataFrame:
    """Late-data bound: rows later than ``delay`` behind the max event time
    are dropped from stateful operators. ``delay=None`` means the input is
    ALREADY watermarked upstream and must not be re-bounded — Spark
    disallows redefining a watermark below a stateful operator, so chained
    stateful ops (dedup → session window) set it once at the source."""
    return df if delay is None else df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame, ts_col: str, window: str = "1 hour", keys: list[str] | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation."""
    g = with_watermark(df, ts_col, delay).groupBy(
        F.window(F.col(ts_col), window).alias("win"), *(keys or [])
    )
    return g.agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(keys or []),
        "n_events",
    )


def sliding_counts(
    df: DataFrame, ts_col: str, window: str = "1 hour", slide: str = "15 minutes",
    keys: list[str] | None = None, delay: str = "10 minutes",
) -> DataFrame:
    g = with_watermark(df, ts_col, delay).groupBy(
        F.window(F.col(ts_col), window, slide).alias("win"), *(keys or [])
    )
    return g.agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(keys or []),
        "n_events",
    )


def session_aggregate(
    df: DataFrame, ts_col: str, key: str, gap: str = "30 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation (gap-based), the streaming twin of the
    batch sessionization query."""
    g = with_watermark(df, ts_col, delay).groupBy(
        F.session_window(F.col(ts_col), gap).alias("win"), F.col(key)
    )
    return g.agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        key,
        "n_events",
    )


def streaming_dedup(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Stateful exactly-once dedup: duplicates arriving within the
    watermark horizon are dropped; state is bounded by the watermark."""
    return with_watermark(df, ts_col, delay).dropDuplicatesWithinWatermark(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    *,
    lookback: str = "30 minutes",
    delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on ``key`` where the right event happened
    within ``lookback`` BEFORE the left event (click-before-purchase
    attribution, the streaming twin of the batch range join).

    Both sides are watermarked and the join condition carries the
    event-time bounds — Structured Streaming needs both to know when
    buffered state can be dropped; without them state grows forever.

    ``how="left_outer"`` adds the null-match lane: a left row with no
    partner emits (once) only after the watermark passes its join
    window, i.e. when no qualifying right row can still arrive — the
    state-EXPIRY semantics inner joins never exercise. Rows younger
    than ``delay + lookback`` behind the stream's max event time are
    still undecided at stream end; comparisons against a batch twin
    must cut at that horizon (the ``streaming_outer_join`` entry does).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError("interval_join supports inner / left_outer")
    l = with_watermark(left, left_ts, delay)
    r = with_watermark(right, right_ts, delay)
    return l.join(
        r,
        (l[key] == r[key])
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts)),
        how,
    ).drop(r[key])


def stateful_running_totals(
    df: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running event count / value sum / last-seen timestamp, maintained
    across micro-batches. This is the extension point for stateful logic
    Spark has no built-in for (running ML feature aggregates, complex
    session machines); built-ins (window aggs, dedup) should NOT come
    through here — they're cheaper as native state machines.

    Scale notes: state is one tiny row per key in the state store
    (RocksDB on a real cluster), updates arrive Arrow-batched per key
    group, and the shuffle is the same single hash-partition-by-key any
    streaming aggregation pays. Output mode: update (one emission per
    key per batch it appears in).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    key_type = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_type),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("last_ts_iso", StringType()),
        ]
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        n, total, last_iso = state.get if state.exists else (0, 0.0, None)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            batch_max = pdf[ts_col].max()
            if last_iso is None or str(batch_max) > last_iso:
                last_iso = str(batch_max)
        state.update((n, total, last_iso))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pd.Timestamp(last_iso)],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def session_close_events(
    df: DataFrame, key_col: str, ts_col: str, gap_minutes: int = 30
) -> DataFrame:
    """Custom session machine via ``applyInPandasWithState`` +
    **EventTimeTimeout** — the state-EXPIRY extension point
    (`stateful_running_totals` covers accumulate-forever state; this
    covers "do something when the watermark says the key went quiet"):
    one output row per CLOSED session, emitted only when the watermark
    passes last_event + gap. Native ``session_window`` can aggregate
    sessions; the custom machine is for close-time side effects and
    payloads aggregations can't express (alerts, session summaries with
    bespoke logic).

    Input must already be watermarked (the timeout clock IS the
    watermark). State per key is one tiny row; append output mode."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    key_type = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_type),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_iso", StringType()),
            StructField("end_iso", StringType()),
            StructField("n", LongType()),
            StructField("end_ms", LongType()),
        ]
    )
    gap_ms = gap_minutes * 60 * 1000

    # the timeout must be WATERMARK-COMPARABLE epoch ms. The pandas
    # timestamps inside the state function are naive in the SESSION
    # timezone, so re-deriving epoch there by forcing tzinfo=UTC fires
    # the timeout offset by the zone delta whenever
    # spark.sql.session.timeZone != UTC. unix_millis() on the JVM side
    # reads the timestamp's true instant, timezone-independent — carry
    # it through the batch and keep its max in state.
    df = df.withColumn("__ts_ms", F.unix_millis(F.col(ts_col)))

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            start_iso, end_iso, n, _end_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start": [pd.Timestamp(start_iso)],
                    "session_end": [pd.Timestamp(end_iso)],
                    "n_events": [n],
                }
            )
            return
        start_iso, end_iso, n, end_ms = (
            state.get if state.exists else (None, None, 0, 0)
        )
        for pdf in pdf_iter:
            n += len(pdf)
            lo, hi = str(pdf[ts_col].min()), str(pdf[ts_col].max())
            start_iso = lo if start_iso is None or lo < start_iso else start_iso
            end_iso = hi if end_iso is None or hi > end_iso else end_iso
            end_ms = max(end_ms, int(pdf["__ts_ms"].max()))
        state.update((start_iso, end_iso, n, end_ms))
        state.setTimeoutTimestamp(end_ms + gap_ms)
        return
        yield  # pragma: no cover — makes `update` a generator on all paths

    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def _stream_query_id(spark, checkpoint: str) -> str:
    """The query id Spark records in ``<checkpoint>/metadata`` when a query
    first starts on that checkpoint: stable across restarts, new for a
    new checkpoint."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint.rstrip("/") + "/metadata")
    stream = path.getFileSystem(spark._jsc.hadoopConfiguration()).open(path)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw.splitlines()[0])["id"]


def foreach_batch_writer(spec: "TargetSpec", checkpoint: str | None = None):
    """Bridge every batch load mode (including SCD2) into a streaming sink:
    ``stream.writeStream.foreachBatch(foreach_batch_writer(spec, ckpt))``.

    With ``checkpoint`` (the query's ``checkpointLocation``), each batch's
    write to a delta-lite file target carries ``txn=(query id,
    batch_id)``, so a micro-batch replayed after a failure lands once:
    exactly-once. The query id keys the watermark, as in delta-spark's
    streaming sink: a query restarted on a new checkpoint restarts batch
    ids at 0 under a new id, so its batches are not taken for replays.
    Every other target and load mode stays at-least-once — a replayed
    batch writes again."""
    from ..sinks.writers import write_target

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        txn = None if checkpoint is None else (_stream_query_id(spark, checkpoint), batch_id)
        write_target(spark, batch_df, spec, txn=txn)

    return _write


def ohlc_tumbling(
    df: DataFrame, ts_col: str, key_col: str, value_col: str, tie_col: str,
    window: str = "1 hour", delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/timeseries.ohlc_bars``:
    tumbling-window OHLCV where open/close are ``min_by``/``max_by``
    over the composite (ts, tie) order.  All six accumulators are
    declarative aggregates, so Spark keeps ONE partial state row per
    (window, key) — late ticks fold into their bar until the watermark
    closes it; no per-event state, no custom state machine.  Values are
    HALF-UP integer hundredths (the batch contract), so the streaming
    result is hash-equal to the batch formulation — pinned by the
    ``streaming_ohlc`` entry."""
    src = with_watermark(df, ts_col, delay).select(
        F.col(ts_col),
        F.col(key_col).alias("key"),
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint").alias("__v"),
        F.struct(F.col(ts_col), F.col(tie_col)).alias("__ord"),
    )
    g = src.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("key"))
    return g.agg(
        F.min_by("__v", "__ord").alias("open_x100"),
        F.max("__v").alias("high_x100"),
        F.min("__v").alias("low_x100"),
        F.max_by("__v", "__ord").alias("close_x100"),
        F.sum("__v").cast("bigint").alias("volume_x100"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    ).select(
        F.col("win.start").alias("bar_ts"),
        "key",
        "open_x100", "high_x100", "low_x100", "close_x100",
        "volume_x100", "n_ticks",
    )
