"""Structured Streaming windowed aggregations (SURVEY.md §2.11).

The reference is batch-only; the engine adds watermarked tumbling /
sliding window counts over the ``events`` stream. Every streaming query
here has a batch twin in ``queries/stream_q.py`` — identical
transformations on a static DataFrame — which is what the DuckDB oracle
checks (streaming results are only testable via the memory sink,
exercised in tests/test_streaming.py).

Scale: windowed streaming aggregation state is keyed by (window,
event_type); the watermark bounds state size, and late rows beyond it
are dropped — the standard production posture for event-time aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.schemas import TESTDATA_SCHEMAS, events_ts_physical_type


def _events_stream_schema(ts_type: str) -> str:
    """The events stream DDL schema, derived from the shared StructType so
    there is one source of truth. ``ts_type`` is the parquet footer probe
    result: ``'timestamp'`` (current micros files — declare TIMESTAMP and
    Spark takes the stored micros verbatim) or ``'int64'`` (legacy nanos —
    declare BIGINT and rebuild after)."""
    ts_ddl = "timestamp" if ts_type == "timestamp" else "bigint"
    fields = []
    for f in TESTDATA_SCHEMAS["events"].fields:
        typ = ts_ddl if f.name == "ts" else f.dataType.simpleString()
        fields.append(f"{f.name} {typ}")
    return ", ".join(fields)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file -> one
    micro-batch via ``maxFilesPerTrigger``). The ``ts`` physical type is
    probed from the parquet footer (metadata-only) BEFORE declaring the
    stream schema, mirroring the batch loader's dtype branch — the r4
    failure mode (assuming legacy nanos, silently dividing micros by
    1000) cannot recur because the probe reads what is actually on disk."""
    ts_type = events_ts_physical_type(sf_dir)
    if ts_type != "timestamp":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _events_stream_schema(ts_type)
    # file stream sources require a directory: stream the sf dir with a
    # glob filter selecting only the events file
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_type == "timestamp":
        return raw
    return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def tumbling_counts(events: DataFrame, width: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type.

    Works on a stream (state bounded by the watermark) or a static frame
    (watermark is a no-op) — the batch twin IS this function on the
    static loader."""
    e = events.withWatermark("ts", watermark)
    return e.groupBy(F.window("ts", width), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def sliding_counts(events: DataFrame, width: str = "2 hours",
                   slide: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding-window count per event_type (each row lands in
    width/slide windows)."""
    e = events.withWatermark("ts", watermark)
    return e.groupBy(F.window("ts", width, slide), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def dedup_within_watermark(events: DataFrame, keys: list[str] | None = None,
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup: drop duplicate ``keys`` arriving within the
    watermark horizon — state holds one entry per key and expires with
    the watermark, so memory stays bounded on an infinite stream
    (``dropDuplicatesWithinWatermark``, the §2.12 exact-dedup twin for
    streams)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (§2.11 UDF surface): per-user running totals — event count, value
    cents, first/last event time (epoch seconds) — carried in explicit
    group state across micro-batches and re-emitted on every update.

    API note: Spark 4's successor API (``transformWithStateInPandas``,
    ValueState/TimerValues on a RocksDB store) was evaluated and is
    unusable in this environment — its streaming Python driver worker
    requires the ``google.protobuf`` package, which is not installed
    (verified: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE /
    ImportError). ``applyInPandasWithState`` covers the same custom-
    stateful surface without that dependency.

    The update function is a self-contained closure (cloudpickled by
    value — no package import on workers); state is a flat tuple of
    longs, the cheapest Arrow state codec shape. On a single-file source
    (one micro-batch) the emitted totals equal the batch groupBy — the
    oracle in ``queries/stream_q.py`` checks exactly that.

    Scale: state is one 4-long tuple per user key, partitioned by the
    groupBy hash — bounded by distinct users, not event volume; use a
    TTL timeout for unbounded key spaces.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n = s = 0
        f = l = None
        if state.exists:
            n, s, f, l = state.get
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf["cents"].sum())
            # normalize to ns first: Arrow may hand pandas datetime64[us]
            # depending on version, and a bare int64 view of that would
            # be off by 1000x
            secs = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000
            mn, mx = int(secs.min()), int(secs.max())
            f = mn if f is None or mn < f else f
            l = mx if l is None or mx > l else l
        state.update((n, s, f, l))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_cents": [s],
                "first_ts_s": [f],
                "last_ts_s": [l],
            }
        )

    prepped = events.select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id bigint, n_events bigint, sum_cents bigint, "
        "first_ts_s bigint, last_ts_s bigint",
        "n bigint, s bigint, f bigint, l bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_once(stream_df: DataFrame, query_name: str,
                    output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation to completion into a memory sink and
    return the result as a static DataFrame (test/demo harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished:
        q.stop()
        raise TimeoutError(f"stream {query_name!r} did not finish in 600s")
    spark = stream_df.sparkSession
    return spark.table(query_name)


def enrich_with_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join + per-key aggregate.

    The static side is broadcast per micro-batch (stateless — no
    streaming state at all, unlike stream-stream joins), which is the
    production shape for joining a firehose against a slowly-changing
    dimension snapshot. Works identically on a static frame — the batch
    twin is this same function (oracled in ``stream_enrich_join``).
    """
    j = events.join(F.broadcast(dim), "user_id")
    return j.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def interval_join_clicks_errors(
    clicks: DataFrame, errors: DataFrame,
    max_lag: str = "6 hours", watermark: str | None = "12 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition: each
    click pairs with the same user's errors that occur within
    ``max_lag`` *after* it.

    On streams both sides carry a watermark and the range condition
    bounds the join state: a buffered click can be dropped once the
    error-side watermark passes click_ts + max_lag, and vice versa —
    the canonical production shape for stream-stream joins (state grows
    with the lag window, not the stream length). On static frames the
    watermark is a no-op and the same function is the oracled batch
    twin (``click_error_interval_join`` /
    ``click_error_interval_left_join``); stream==batch equivalence is
    asserted in tests/test_streaming.py.

    ``how="leftOuter"`` (r8) is the error-free-click detector: clicks
    with NO error inside the lag window emit a null-padded row — on a
    stream only once the error-side watermark proves the window closed
    (the result is therefore watermark-delayed, the documented outer
    stream-stream contract; the test drives the flush with a
    far-future sentinel).

    Output: (user_id, click_id, error_id, lag_s) — leftOuter adds a
    ``matched`` boolean, with error_id/lag_s NULL on unmatched rows.

    ``watermark=None`` skips the per-side ``withWatermark`` — for
    callers that watermarked UPSTREAM of their per-type filters (see
    :func:`interval_join_from_events`, the stall-proof shape).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    if watermark is not None:
        clicks = clicks.withWatermark("ts", watermark)
        errors = errors.withWatermark("ts", watermark)
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    e = errors.select(
        F.col("user_id").alias("e_user_id"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    j = c.join(
        e,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(f"interval {max_lag}")),
        how,
    )
    cols = [
        F.col("user_id"),
        F.col("click_id"),
        F.col("error_id"),
        (F.unix_timestamp("error_ts") - F.unix_timestamp("click_ts")).alias(
            "lag_s"
        ),
    ]
    if how == "leftOuter":
        cols.append(F.col("error_id").isNotNull().alias("matched"))
    return j.select(*cols)


def interval_join_from_events(
    events: DataFrame,
    click_type: str = "click",
    error_type: str = "error",
    max_lag: str = "6 hours",
    watermark: str = "12 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermark-STALL-PROOF interval join over one typed event stream
    — the production guard the r8 left-outer test uncovered: when each side's ``withWatermark`` sits AFTER
    its event-type filter, a side whose type goes quiet (errors during
    a healthy period — exactly when the error-free-click detector
    matters most) stops advancing its watermark, the query's global
    watermark (the minimum across nodes) stalls with it, and every
    pending outer row buffers forever.

    The fix is a SHAPE, not a knob: apply the watermark UPSTREAM of
    the per-type filters. Both join branches then carry a watermark
    node that observes the FULL event stream — any event of any type
    advances both sides — so a silent error side cannot stall
    eviction, and unmatched clicks flush as soon as real traffic (of
    any type) passes their lag window. Same join, same output contract
    as :func:`interval_join_clicks_errors`; equivalence on static
    frames and the silent-side flush on a REAL stream are pinned in
    tests/test_streaming.py.
    """
    wm = events.withWatermark("ts", watermark)
    return interval_join_clicks_errors(
        wm.where(F.col("event_type") == click_type),
        wm.where(F.col("event_type") == error_type),
        max_lag=max_lag,
        watermark=None,
        how=how,
    )


def run_stream_foreach_batch(
    stream_df: DataFrame, batch_fn, query_name: str
) -> None:
    """Drive a stream to completion through ``foreachBatch`` — the
    arbitrary-sink escape hatch (upserts, multi-table writes, JDBC).
    ``batch_fn(df, batch_id)`` runs on each micro-batch as a plain batch
    DataFrame; availableNow drains all input then stops.
    """
    import tempfile

    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .queryName(query_name)
        .outputMode("update")
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix=f"ckpt-{query_name}-"),
        )
        .trigger(availableNow=True)
        .start()
    )
    # an ignored timeout here would leave the query running and the
    # caller reading a partially-filled sink — fail loudly instead
    finished = q.awaitTermination(600)
    if not finished:
        q.stop()
        raise TimeoutError(f"stream {query_name!r} did not finish in 600s")


def last_committed_batch(log_dir: str, app_id: str) -> int:
    """Highest micro-batch id this app has durably committed to the
    txlog (−1 if none): walks the commit files newest-first and returns
    on the first txn marker — O(commits-since-last-txn), not O(history).
    """
    import json
    import os

    from modeltracking_spark.operators.txlog import latest_version

    for v in range(latest_version(log_dir), -1, -1):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                meta = a.get("meta")
                if meta and meta.get("txn_app") == app_id:
                    return int(meta["txn_batch"])
    return -1


def exactly_once_batch_sink(table_dir: str, app_id: str = "stream-ingest",
                            key_col: str | None = None):
    """EXACTLY-ONCE streaming ingest into the engine's txlog table
    format: a ``foreachBatch`` function that writes each micro-batch as
    an immutable parquet file and publishes the add TOGETHER with a
    ``{"meta": {"txn_app", "txn_batch"}}`` marker in ONE atomic commit
    — the Delta/Iceberg idempotent-writer pattern. After a failure
    between sink write and checkpoint advance, Structured Streaming
    REPLAYS the last micro-batch with the SAME batch_id; the marker
    walk sees it already committed and the replay is a no-op, so the
    table never double-counts. At 100 TB this is the difference
    between at-least-once and exactly-once ingest: dedup happens on one
    integer compare against the log head, not by rescanning data.

    Returns ``batch_fn(df, batch_id)`` for
    :func:`run_stream_foreach_batch` (or any writeStream.foreachBatch).
    """
    import os

    from modeltracking_spark.operators.txlog import (
        latest_version,
        write_files_commit,
    )

    log_dir = os.path.join(table_dir, "_log")

    def batch_fn(df, batch_id: int) -> None:
        if batch_id <= last_committed_batch(log_dir, app_id):
            return  # replayed micro-batch: exactly-once no-op
        write_files_commit(
            {f"batch-{batch_id:010d}": df},
            table_dir,
            latest_version(log_dir) + 1,
            key_col=key_col,
            extra_actions=[
                {"meta": {"txn_app": app_id, "txn_batch": int(batch_id)}}
            ],
        )

    return batch_fn
