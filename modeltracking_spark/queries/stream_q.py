"""Batch twins of the streaming window queries (SURVEY.md §2.11).

The exact transformation objects from ``streaming/windows.py`` run here
on the static events table (a watermark on a batch frame is a no-op), so
the oracle checks the same logic the stream executes; the stream-vs-batch
equivalence itself is asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.queries.common import T, query
from modeltracking_spark.streaming.windows import (
    read_events_stream,
    run_stream_once,
    sliding_counts,
    stateful_user_totals,
    tumbling_counts,
)


@query(
    "tumbling_window_counts",
    oracle="""
    SELECT 'tumble' AS w_op,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'slide',
           strftime(ws, '%Y-%m-%d %H:%M:%S'),
           event_type,
           count(*),
           sum(round(value * 100)::BIGINT)::BIGINT
    FROM (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
      FROM events
    )
    GROUP BY 2, 3
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window suite, ``w_op``-tagged arms in one query:

    - ``tumble`` 1-hour tumbling windows per type — epoch-aligned, so
      window.start ≡ date_trunc('hour').
    - ``slide``  2h/1h sliding windows — each event lands in exactly two
      windows (starts at trunc(ts) and trunc(ts)-1h), replayed in SQL by
      a two-way unioned assignment; carries ``sliding_window_counts``.
      The stream-vs-batch equivalence of both window shapes is asserted
      in tests/test_streaming.py.
    """
    e = T(spark, sf_dir, "events")
    tum = tumbling_counts(e).select(
        F.lit("tumble").alias("w_op"),
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )
    sli = sliding_counts(e).select(
        F.lit("slide").alias("w_op"),
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )
    return tum.unionByName(sli)


@query(
    "sliding_window_counts",
    oracle="""
    WITH assigned AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
    FROM assigned
    GROUP BY 1, 2
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows: each event lands in exactly two windows
    (starts at trunc(ts) and trunc(ts)-1h), reproduced in SQL by a
    two-way unioned assignment."""
    out = sliding_counts(T(spark, sf_dir, "events"))
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )


@query(
    "stateful_user_totals_stream",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           min(floor(epoch(ts))::BIGINT) AS first_ts_s,
           max(floor(epoch(ts))::BIGINT) AS last_ts_s
    FROM events
    GROUP BY 1
    """,
)
def stateful_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driven as a REAL
    stream to completion: per-user running totals carried in group state.
    The single-file source yields one micro-batch, so the emitted state
    equals the batch aggregate — which is exactly what the oracle
    computes. This is the §2.11 'custom stateful operator' tier, and the
    one queries() entry that executes Structured Streaming itself rather
    than a batch twin."""
    # Scale-adaptive state partitioning (r17, guide §2.2): a stateful
    # streaming operator pins its state-store partition count to
    # spark.sql.shuffle.partitions AT QUERY START, and AQE never
    # touches streaming shuffles — so the session default (2x cores)
    # means 64 state stores, 64 per-batch commit/checkpoint round
    # trips and 64 near-empty Python state tasks for a 2 MB input.
    # Derive the count from the source size instead — one partition
    # per SPARK_GRAFT_STREAM_STATE_MB of input (default 32 MB,
    # capped at 2048: a 100 TB stream still gets thousands of state
    # partitions) with a floor of HALF the default parallelism (each
    # state partition pays a fixed per-batch store-commit cost, so
    # more partitions than work stalls on machinery: measured drain
    # seconds at sf0.1/local[32] over the count — 1: 6.2, 2: 4.2,
    # 8: 2.8, 16: 1.8, 32: 2.3, 64 (session default): 3.0) — set it
    # for the stream and restore the session value before returning.
    # Results are per-user totals — identical under any partitioning.
    import math
    import os

    n_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    per_part = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_MB", "32"))
    floor = max(1, spark.sparkContext.defaultParallelism // 2)
    n_state = max(floor, min(math.ceil(n_bytes / (per_part << 20)), 2048))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        stream = stateful_user_totals(read_events_stream(spark, sf_dir))
        return run_stream_once(
            stream, f"q_stateful_totals_{abs(hash(sf_dir)) % 10_000}",
            output_mode="update",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@query(
    "stream_enrich_join",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS user_id,
             CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'base' END
               AS segment
      FROM customer
    )
    SELECT segment, event_type,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
    FROM events JOIN dim USING (user_id)
    GROUP BY 1, 2
    """,
)
def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (batch twin): events joined to a static
    user-segment dimension (broadcast — stateless per micro-batch) and
    aggregated per (segment, type). The stream-vs-batch equivalence and
    the foreachBatch sink route are asserted in tests/test_streaming.py."""
    from modeltracking_spark.streaming.windows import enrich_with_static

    e = T(spark, sf_dir, "events")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.when(F.col("c_acctbal") >= 5000, "high")
        .otherwise("base")
        .alias("segment"),
    )
    return enrich_with_static(e, dim)


@query(
    "resample_ffill_events",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             count(*) AS n,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM b),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
      ) g
    )
    SELECT s.event_type,
           strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           coalesce(b.n, 0) AS n_events,
           last_value(b.cents IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.h) AS filled_cents,
           (b.h IS NULL) AS is_gap
    FROM spine s LEFT JOIN b USING (event_type, h)
    """,
)
def resample_ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly grid per event_type (spine built
    from one sequence() explode over the global bounds — a tiny
    broadcast, never a row-per-gap shuffle) left-joined to the observed
    hourly aggregate, gaps forward-filled with last-observation-carried-
    forward (``last(..., ignorenulls)`` over an ordered window). The
    regular-grid + LOCF shape the reference's 3-hourly HYCOM time axis
    implies (``trackplot_hycom.py:186-197`` snaps to it) and telemetry
    pipelines run constantly."""
    e = T(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    bounds = b.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    j = spine.join(b, ["event_type", "h"], "left")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("h")
    return j.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
        F.col("n").isNull().alias("is_gap"),
    )


@query(
    "foreach_batch_sink_totals",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
    FROM events
    GROUP BY 1
    """,
)
def foreach_batch_sink_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch arbitrary-sink route, oracled end to end: a REAL
    stream of the events file aggregates per event_type in update mode,
    each micro-batch upserting its groups into a driver-side dict (the
    stand-in for a JDBC/key-value upsert target — the canonical
    foreachBatch use). After availableNow drains the source, the
    accumulated sink state is returned as a DataFrame; the oracle is
    the plain batch aggregate, so dropped batches, double-applied
    upserts, or partial flushes all hash-fail. The dict is bounded by
    the group-key cardinality (5 here), not the stream length."""
    from modeltracking_spark.streaming.windows import (
        read_events_stream,
        run_stream_foreach_batch,
    )

    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )
    state: dict = {}

    def upsert(df, batch_id):
        for r in df.collect():
            state[r["event_type"]] = (r["n_events"], r["sum_cents"])

    run_stream_foreach_batch(
        agg, upsert, f"q_foreach_totals_{abs(hash(sf_dir)) % 10_000}"
    )
    rows = [(k, int(v[0]), int(v[1])) for k, v in sorted(state.items())]
    return spark.createDataFrame(
        rows, "event_type string, n_events bigint, sum_cents bigint"
    )


@query(
    "exactly_once_ingest_events",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
    FROM events
    GROUP BY 1
    """,
)
def exactly_once_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingest (round 9): a REAL stream drains
    through the idempotent foreachBatch txlog sink
    (streaming/windows.py:exactly_once_batch_sink — add + txn marker in
    ONE atomic commit), then the final micro-batch is DELIBERATELY
    REPLAYED (the post-failure redelivery Structured Streaming
    performs) before the table is read back and aggregated. The oracle
    is the plain batch aggregate over events — it matches ONLY if the
    replay was a true no-op, so at-least-once double-counting fails the
    gate by construction, not just in pytest
    (tests/test_streaming.py::test_exactly_once_ingest_replay_is_noop
    additionally pins versions/files/stale-batch behavior)."""
    import os
    import tempfile

    from modeltracking_spark.operators.txlog import read_snapshot
    from modeltracking_spark.streaming.windows import (
        exactly_once_batch_sink,
        last_committed_batch,
        run_stream_foreach_batch,
    )

    table_dir = tempfile.mkdtemp(prefix="e1-ingest-")
    sink = exactly_once_batch_sink(table_dir, app_id="q-e1")
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    run_stream_foreach_batch(
        ev, sink, f"q_e1_ingest_{abs(hash(sf_dir)) % 10_000}"
    )
    # deliberate post-failure replay of the committed head batch
    replay = T(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    head = last_committed_batch(os.path.join(table_dir, "_log"), "q-e1")
    sink(replay, head)
    return (
        read_snapshot(spark, table_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
    )


@query(
    "zstd_seekable_stream_scan_docs",
    oracle="""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           md5(text) AS text_md5,
           (doc_id % 4)::BIGINT AS shard
    FROM documents
    """,
)
def zstd_seekable_stream_scan_docs(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """STREAMING tail of a GROWING seekable-zstd archive directory
    (round 10 — the DataSourceStreamReader arm of
    sources/zstd_seekable_source.py): the docs corpus arrives in TWO
    waves of shard archives; a Structured Streaming query with a
    file-sink checkpoint drains wave 1 (trigger availableNow), the
    second wave lands, and a RESTARTED run with the SAME checkpoint
    catches up from the stored ``{path: frames_consumed}`` offsets —
    one InputPartition per NEW frame, seek tables read tail-only,
    frame payloads range-read. The oracle is the plain batch projection
    of the documents table: it matches ONLY if every frame was
    consumed exactly once across the restart (a duplicate or a skip
    fails the hash by construction). The exactly-once/no-op-rerun/
    duplicate-free properties are additionally pinned in
    tests/test_zstd_seekable.py."""
    import os
    import tempfile

    from pyspark.errors import PySparkException

    from modeltracking_spark.operators.zstd_seekable import (
        zstd_seekable_write,
    )
    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.zstd_seekable_source import (
        ZstdSeekableDataSource,
    )

    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(ZstdSeekableDataSource)
    except PySparkException:
        pass  # already registered in this session
    td = tempfile.mkdtemp(prefix="zseek-stream-q-")
    arch, out, ck = f"{td}/arch", f"{td}/out", f"{td}/ck"
    os.makedirs(arch)
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def write_wave(shards: tuple[int, ...]):
        def _write(rows_iter):
            by_shard: dict[int, list[str]] = {}
            for r in rows_iter:
                by_shard.setdefault(int(r["shard"]), []).append(
                    f"{int(r['doc_id'])}\t{r['text']}\n"
                )
            for s, lines in by_shard.items():
                batches = ["".join(lines[i:i + 25]).encode("utf-8")
                           for i in range(0, len(lines), 25)]
                tmp = os.path.join(arch, f".shard-{s}.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(zstd_seekable_write(batches))
                os.rename(tmp, os.path.join(arch, f"shard-{s}.zst"))

        (
            docs.withColumn("shard", (F.col("doc_id") % 4).cast("int"))
            .where(F.col("shard").isin(*shards))
            .repartition(len(shards), "shard")
            .sortWithinPartitions("shard", "doc_id")
            .foreachPartition(_write)
        )

    def drain():
        q = (
            spark.readStream.format("zstd_seekable")
            .option("path", arch).load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_wave((0, 1))   # wave 1 lands, stream drains it
    drain()
    write_wave((2, 3))   # the archive GROWS; restart catches up
    drain()

    back = spark.read.parquet(out)
    return back.select(
        F.expr("cast(substring(line, 1, instr(line, '\\t') - 1) as long)")
        .alias("doc_id"),
        F.length(F.expr("substring(line, instr(line, '\\t') + 1)"))
        .cast("long").alias("n_chars"),
        F.md5(F.expr("substring(line, instr(line, '\\t') + 1)"))
        .alias("text_md5"),
        F.regexp_extract("path", r"shard-(\d+)\.zst$", 1)
        .cast("long").alias("shard"),
    )


@query(
    "parquet_stream_sink_docs",
    oracle="""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           md5(text) AS text_md5
    FROM documents
    """,
)
def parquet_stream_sink_docs(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """STREAMING from-spec parquet SINK
    (sources/parquet_native_source.py streamWriter arm — the write
    side of r10's streaming DataSource reader): the docs corpus
    arrives in TWO waves of source files; a Structured Streaming
    query drains wave 1 through ``writeStream.format(
    "parquet_native")`` (every micro-batch encoded executor-side by
    operators/parquet_write.py and committed through the per-epoch
    temp-dir + rename + ``_epochs``-log protocol), the second wave
    lands, and a RESTARTED run with the SAME checkpoint catches up.
    The result is read back by Spark's JVM parquet reader; the oracle
    is the plain batch projection of the documents table, so it
    matches ONLY if every row landed exactly once across the restart
    — a replayed or skipped epoch fails the hash by construction.
    The replayed-epoch no-op contract is additionally unit-pinned in
    tests/test_parquet_write.py."""
    import tempfile

    from pyspark.errors import PySparkException

    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.parquet_native_source import (
        ParquetNativeDataSource,
    )

    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(ParquetNativeDataSource)
    except PySparkException:
        pass  # already registered in this session
    td = tempfile.mkdtemp(prefix="pnsink-stream-q-")
    src, out, ck = f"{td}/src", f"{td}/out", f"{td}/ck"
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def write_wave(parity: int):
        (docs.where(F.col("doc_id") % 2 == parity)
         .repartition(2)
         .write.mode("append").parquet(src))

    def drain():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 2).parquet(src)
            .writeStream.format("parquet_native")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_wave(0)   # wave 1 lands, stream drains it through the sink
    drain()
    write_wave(1)   # the source GROWS; restart catches up
    drain()

    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@query(
    "orc_stream_sink_docs",
    oracle="""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           md5(text) AS text_md5
    FROM documents
    """,
)
def orc_stream_sink_docs(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """STREAMING from-spec ORC SINK (round 12, VERDICT r11 item 5 —
    sources/orc_native_source.py streamWriter arm on the shared 2PC
    base): the exact protocol precedent of parquet_stream_sink_docs,
    at the ORC format grain — the docs corpus arrives in TWO waves; a
    Structured Streaming query drains wave 1 through
    ``writeStream.format("orc_native")`` (micro-batches encoded
    executor-side by operators/orc_write.py — stripes, per-stripe
    statistics, metadata section — and committed through the
    per-epoch temp-dir + rename + ``_epochs``-log protocol), wave 2
    lands, and a RESTARTED run with the SAME checkpoint catches up.
    Read back by Spark's JVM ORC reader; the oracle is the plain
    batch projection, so the hash matches ONLY if every row landed
    exactly once across the restart."""
    import tempfile

    from pyspark.errors import PySparkException

    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.orc_native_source import (
        OrcNativeDataSource,
    )

    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(OrcNativeDataSource)
    except PySparkException:
        pass  # already registered in this session
    td = tempfile.mkdtemp(prefix="onsink-stream-q-")
    src, out, ck = f"{td}/src", f"{td}/out", f"{td}/ck"
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def write_wave(parity: int):
        (docs.where(F.col("doc_id") % 2 == parity)
         .repartition(2)
         .write.mode("append").parquet(src))

    def drain():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 2).parquet(src)
            .writeStream.format("orc_native")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_wave(0)   # wave 1 lands, stream drains it through the sink
    drain()
    write_wave(1)   # the source GROWS; restart catches up
    drain()

    back = spark.read.orc(out)
    return back.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )
