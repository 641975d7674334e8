"""Structured Streaming surface (SURVEY.md §2.10).

The reference's streaming story is StreamTable + unbounded-safe operators
(stream.rs:296, streaming.rs:57) with NO watermark/event-time machinery;
Spark gives us the full event-time stack, so this module exposes it as
capability-parity-plus: file-replay sources, watermarked tumbling/session
aggregation, and an availableNow runner for deterministic tests.

The aggregation expressions are the SAME F.window/F.session_window used by
the batch entries in queries/eventsuite.py — one definition, two execution
modes, which is exactly the Spark-first way to get the reference's
"unbounded table" semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_datafusion_spark.session import normalize_ts, prepare, table_path
from arrow_datafusion_spark.sources.listing import read_listing

__all__ = [
    "read_events_stream",
    "windowed_counts",
    "stream_stream_join",
    "stateful_type_counts",
    "run_available_now",
]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay unbounded source over the events fixture (StreamTable
    role). maxFilesPerTrigger=1 gives multi-microbatch replay on multi-file
    inputs; the fixture is a single file, so tests see one deterministic
    batch.

    The stream schema is the batch reader's (a footer read, no job) rather
    than hard-coded, so fixture storage-type changes (ns-as-long vs µs NTZ)
    can't desynchronize batch and stream; normalize_ts then applies the
    same ts policy as the batch path."""
    prepare(spark)
    schema = read_listing(spark, "parquet", table_path(sf_dir, "events")).schema
    # FileStreamSource requires a directory or glob, not a bare file path —
    # a single-char glob on the suffix keeps the base path at the directory.
    path = table_path(sf_dir, "events")[:-1] + "[t]"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return normalize_ts(raw)


def windowed_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the canonical
    late-data-tolerant streaming aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
        )
    )


def stream_stream_join(
    events: DataFrame,
    window: str = "1 hour",
    how: str = "inner",
    keep_both_users: bool = False,
) -> DataFrame:
    """Stream-stream equi join with a time-range condition — the
    SymmetricHashJoinExec analog (joins/symmetric_hash_join.rs:167): the
    watermark + time bound is exactly the interval-based state pruning the
    reference derives with its cp_solver, but declared instead of inferred.

    Joins each click to the same user's views in the preceding ``window``.
    ``how`` extends to the OUTER stream-stream forms the reference's
    SymmetricHashJoin also supports (left_outer/right_outer/full_outer):
    Spark emits the NULL-extended row for an unmatched side once the
    watermark proves no future match can arrive — the same
    watermark-eviction contract as the reference's pruned build sides.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    joined = clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND v_ts BETWEEN c_ts - INTERVAL {window} AND c_ts"
        ),
        how,
    )
    if keep_both_users:
        # outer forms NULL one side's columns: callers that must tell a
        # NULL-extended row's surviving side apart (the full-outer driver
        # gate's sentinel filter) need both user columns
        return joined.select("click_id", "view_id", "c_user", "v_user")
    return joined.select("click_id", "view_id", "c_user")


def stateful_type_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    reference-exceeding §2.10 surface): running per-type event counts kept
    in explicit group state across micro-batches."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"event_type": [key[0]], "n": [n]})

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication — the unbounded counterpart of
    operators/dedup.py `exact_dedup_groups`, for ingest-time dedup of a
    document/event firehose.

    `dropDuplicatesWithinWatermark` keys state by the dedup columns and
    expires each key once the watermark passes it, so state is bounded by
    (keys arriving within one watermark window), not by stream history —
    the property that makes ingest dedup viable on an unbounded 100 TB/day
    feed where an unbounded `dropDuplicates` state would OOM.

    Dedup key = (user_id, event_type, value): replays/retries of the same
    logical event dedup even when their event_ids differ.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "value"]
    )


def run_available_now(
    df: DataFrame, name: str, timeout_s: int = 120, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with trigger(availableNow) into an in-memory sink and
    return the result as a (batch) DataFrame.

    Default output mode is ``complete`` so windows the watermark hasn't
    closed yet are still visible at end-of-replay (append mode would hold
    them back — correct for production sinks, wrong for a drain-and-assert
    test).

    Stateful operators (windowed agg, stream-stream join, dedup) open one
    state store PER shuffle partition; on an untuned session (200
    partitions) store initialization dwarfs the actual work at test scale,
    so the shuffle-partition conf is pinned to the session's parallelism
    for the duration of the drain (it is read at query start) and restored
    after. On a real cluster the partition count is a capacity decision the
    operator must not override — hence scoped here, not in the DataFrame
    transformations."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
    finally:
        # restore the previous value, or UNSET back to the session default
        # if the conf had never been set (leaving our pin in place would
        # override the session's capacity default for all later queries).
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
    return spark.table(name)
