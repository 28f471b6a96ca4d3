"""Structured Streaming layer (SURVEY.md §2.10, Phase 4).

The reference's incremental behaviors (N1 skip-processed, N2
create-if-missing, N3 idempotent re-ingestion) map to Spark as:
- file-source streaming with Trigger.AvailableNow (exactly-once batch
  drain of whatever is new),
- watermarked event-time windows for late data,
- foreachBatch + merge_by_key for idempotent upserts (exercised in
  tests/test_streaming.py against a tmp dir). ``ETLPipeline.ingest_stream``
  is the document form: its file stream is ``process_folder``'s
  ``binaryFile`` scan, and each micro-batch goes through the same
  conversion and ``ingest``.

The streaming tumbling agg below produces, in complete mode, exactly the
batch tumbling result — which is what makes it oracle-checkable even
though it runs through the streaming engine.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet, ts normalized to µs.

    A file stream needs an explicit schema, but ts has shipped both as
    TIMESTAMP(NANOS) (reads as int64 via nanosAsLong) and TIMESTAMP(MICROS)
    (reads as timestamp_ntz) across testdata generations — so sniff the
    batch reader's resolved schema from the parquet footer (a metadata-only
    read) and apply the matching conversion, same as sources.tables.
    """
    from ..sources.tables import _ts_to_micros

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", _ts_to_micros(schema["ts"].dataType))


def run_to_table(
    df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame with Trigger.AvailableNow through a
    foreachBatch parquet sink and read the result back as a batch
    DataFrame.

    This is the production drain shape — the same foreachBatch pattern
    as ``ETLPipeline.ingest_stream`` (etl.py) — so no result row ever
    materializes on the driver, unlike a memory sink whose complete-mode
    state lives in driver memory. Complete mode overwrites the table per
    micro-batch; append/update modes append each batch's delta. The
    tmpdir checkpoint is test-scoped; production passes a durable path.

    ``state_partitions``: number of state-store partitions for THIS
    query (``spark.sql.shuffle.partitions`` binds to the checkpoint at
    first batch; each drain starts a fresh checkpoint, so setting it
    here is per-query and value-invariant — proven by
    scripts/config_sweep.py). Stream-stream joins open FOUR state-store
    instances per partition per micro-batch; profiling
    (scripts/profile_streaming.py) measured ~90% of the two join
    drains' wall as exactly this fixed machinery — state volume, not
    parallelism, should size it.
    """
    spark = df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="stream_drain_")
    data_dir = os.path.join(out_dir, "data")
    mode = "overwrite" if output_mode == "complete" else "append"

    def drain(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(data_dir)

    prev_parts = None
    if state_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.foreachBatch(drain)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(data_dir)


#: state-store partition sizing floor/split size for state_partitions_for
_STATE_MIN_PARTITIONS = 8
_STATE_SPLIT_BYTES = 128 * 1024 * 1024


def _tree_bytes(path: str) -> int:
    """Total data bytes under ``path`` — a single file's size, or the
    recursive sum of file sizes for a directory-backed parquet dataset.
    ``os.path.getsize`` on a directory returns the directory-ENTRY size
    (~4 KiB), which made the input-sized state rule dead code outside
    single-file fixtures (ADVICE r8)."""
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total
    except OSError:
        return 0


def state_partitions_for(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count sized from the INPUT, not a constant.

    Stream-stream joins open four state-store instances per partition
    per micro-batch, a fixed open/commit cost that dominated the local
    drains at the session default of 32 (scripts/profile_streaming.py:
    ~90% of wall; 6.5 s -> 2.6 s at 8 partitions). But state volume
    grows with input, so the 100 TB sizing rule is: one state partition
    per ~128 MiB input split, floored at _STATE_MIN_PARTITIONS = 8
    (keyspace headroom on tiny inputs), capped at 4x the cluster's
    default parallelism (state partitions modestly over cores lets
    stragglers rebalance; beyond that the per-instance machinery
    dominates again). At the driver's test SFs this resolves to the
    measured-optimal floor of 8; on a 1000-executor cluster reading TBs
    it resolves to the 4x-cores cap. The value binds per-checkpoint at
    first batch (each drain starts a fresh checkpoint), and results are
    partition-count-invariant — proven by scripts/config_sweep.py.
    """
    path = os.path.join(sf_dir, "events.parquet")
    input_bytes = _tree_bytes(path)
    splits = -(-input_bytes // _STATE_SPLIT_BYTES)  # ceil
    cap = 4 * spark.sparkContext.defaultParallelism
    return int(min(max(splits, _STATE_MIN_PARTITIONS), cap))


def read_events_stream_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME stream view: NULL-ts rows dropped, matching the batch
    ``events_us`` oracle CTE's WHERE (an event with no timestamp is in
    no window/session/interval — plans/events._events_ts's contract).
    Queries whose oracle reads raw ``events`` (enrich/topk/dedup) keep
    the unfiltered reader."""
    return read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 10-minute tumbling aggregation through the streaming
    engine (complete mode: no rows dropped, matches the batch oracle)."""
    ev = read_events_stream_ts(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    out = run_to_table(agg, output_mode="complete")
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"), "n_events", "sum_value"
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user sessionization via
# applyInPandasWithState (north-star "custom stateful operators" item).
# Integer-only outputs (counts + epoch-µs bounds) keep it oracle-exact.
# ---------------------------------------------------------------------------

def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 10-minute/5-minute sliding window through the streaming
    engine (complete mode: every event lands in exactly two windows, so
    the batch k∈{0,1} bucket-shift oracle applies verbatim)."""
    ev = read_events_stream_ts(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    out = run_to_table(agg, output_mode="complete")
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"), "n_events", "sum_value"
    )


SESSION_GAP_US = 30 * 60 * 1_000_000

SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

#: carried across micro-batches: the currently-open session per user.
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_fn(key, pdf_iter, state):
    """Stateful per-user sessionizer (update-mode semantics).

    Emits every session closed by this batch's events plus a snapshot of
    the still-open session; the open session is kept in GroupState so the
    next micro-batch extends it instead of restarting. With a single
    AvailableNow batch the emitted set equals batch gaps-and-islands
    sessionization — which is what the DuckDB oracle checks.
    """
    import pandas as pd  # local: runs on executors

    (user_id,) = key
    if state.exists:
        start_us, end_us, n = state.get
        open_sess = [start_us, end_us, n]
    else:
        open_sess = None

    sessions = []
    for pdf in pdf_iter:
        ts = pdf["ts_us"].sort_values().to_numpy()
        for t in ts:
            t = int(t)
            if open_sess is None:
                open_sess = [t, t, 1]
            elif t > open_sess[1] + SESSION_GAP_US:
                sessions.append(open_sess)
                open_sess = [t, t, 1]
            else:
                open_sess[1] = max(open_sess[1], t)
                open_sess[2] += 1

    if open_sess is not None:
        state.update(tuple(open_sess))
        sessions.append(open_sess)  # update-mode snapshot of the open session

    yield pd.DataFrame(
        {
            "user_id": [int(user_id)] * len(sessions),
            "session_start_us": [s[0] for s in sessions],
            "session_end_us": [s[1] for s in sessions],
            "n_events": [s[2] for s in sessions],
        }
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap sessions through applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream_ts(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(sessions, output_mode="update")


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event dedup through the streaming engine:
    watermark + dropDuplicates on the event key, then counts per type.

    With a static source drained in one AvailableNow pass the result
    equals batch DISTINCT — the streaming dedup state machinery itself
    is what's under test (N1's skip-processed semantic, applied to
    events instead of files)."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique_events"))
    return run_to_table(agg, output_mode="complete")


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases ⋈ same-user clicks within
    the preceding 10 minutes.

    Both sides carry watermarks so the join state is bounded: Spark
    evicts buffered clicks once the purchase-side watermark passes
    click_ts + 10 min. Inner stream-stream joins emit matches eagerly,
    so one AvailableNow drain over a static source produces exactly the
    batch interval-join result (oracle-checkable).

    100 TB shape: state per key is bounded by the interval width x event
    rate, not stream length — the watermark is what makes an unbounded
    join feasible at all.
    """
    clicks = (
        read_events_stream_ts(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream_ts(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts > purchase_ts - INTERVAL 10 MINUTES
            """
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    # input-sized state partitions (state_partitions_for): ~90% of this
    # drain's wall was the 32x4 state-store instances' open/commit
    # machinery (profile_streaming.py) — size to state volume, never
    # default-32; resolves to the measured-optimal 8 at test SFs and to
    # the 4x-cores cap on a real cluster
    return run_to_table(
        joined,
        output_mode="append",
        state_partitions=state_partitions_for(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator #2: per-user CUSUM drift via
# applyInPandasWithState. Integer-cents arithmetic (see
# plans/events.q_cusum_drift) keeps the statistic BIGINT-exact, so a
# single AvailableNow drain reproduces the batch oracle bit for bit.
# ---------------------------------------------------------------------------

CUSUM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("peak_cusum_cents", T.LongType()),
        T.StructField("n_exceed", T.LongType()),
        T.StructField("first_exceed_us", T.LongType()),
    ]
)

#: carried across micro-batches: (prefix sum, running min, peak,
#: exceedance count, first crossing or -1).
CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pn", T.LongType()),
        T.StructField("minp", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("n_exceed", T.LongType()),
        T.StructField("first_us", T.LongType()),
    ]
)

CUSUM_H_CENTS = 20000  # must match plans/events._CUSUM_H_CENTS


def cusum_fn(key, pdf_iter, state):
    """Stateful CUSUM: S_n = P_n - min(0, min P_i), carried across
    batches as (P, min P, peak, count, first crossing). Events are
    totally ordered by (ts_us, event_id) within the batch — the same
    order the batch oracle's windows use."""
    import numpy as np
    import pandas as pd  # local: runs on executors

    (user_id,) = key
    pn, minp, peak, n_exceed, first_us = (
        state.get if state.exists else (0, 0, 0, 0, -1)
    )

    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"], kind="mergesort")
        dv = pdf["dv"].to_numpy(dtype=np.int64)
        pns = pn + np.cumsum(dv)
        run_min = np.minimum(np.minimum.accumulate(pns), minp)
        cusum = pns - np.minimum(run_min, 0)
        over = cusum > CUSUM_H_CENTS
        if first_us < 0 and over.any():
            first_us = int(pdf["ts_us"].to_numpy()[int(np.argmax(over))])
        n_exceed += int(over.sum())
        peak = max(peak, int(cusum.max()))
        pn = int(pns[-1])
        minp = int(run_min[-1])

    state.update((pn, minp, peak, n_exceed, first_us))
    yield pd.DataFrame(
        {
            "user_id": [int(user_id)],
            "peak_cusum_cents": [peak],
            "n_exceed": [n_exceed],
            "first_exceed_us": [first_us if first_us >= 0 else None],
        }
    )


def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift through applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.events import _CUSUM_K_CENTS

    ev = read_events_stream_ts(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint") - _CUSUM_K_CENTS).alias("dv"),
    )
    stats = ev.groupBy("user_id").applyInPandasWithState(
        cusum_fn,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(stats, output_mode="update")


def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits, with
    NULL click columns when no same-user click preceded it by <=10 min.

    Outer stream-stream joins are append-only and watermark-DRIVEN, not
    just watermark-bounded: an unmatched purchase's NULL row can only
    emit once the GLOBAL watermark (min of both sides' watermarks under
    the default multipleWatermarkPolicy=min) passes its purchase_ts —
    before that, a matching click could still arrive. The final no-data
    micro-batch after the AvailableNow drain flushes exactly the
    purchases with purchase_ts < min(max(click_ts), max(purchase_ts)) -
    delay; later tail purchases stay buffered (correct semantics — the
    oracle encodes this cutoff, verified empirically at two SFs).

    100 TB shape: identical state bound to the inner form — interval
    width x event rate per key — plus one timer per unmatched left row.
    """
    delay = "10 seconds"
    clicks = (
        read_events_stream_ts(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        read_events_stream_ts(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", delay)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts > purchase_ts - INTERVAL 10 MINUTES
            """
        ),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    # input-sized state partitions (state_partitions_for): ~90% of this
    # drain's wall was the 32x4 state-store instances' open/commit
    # machinery (profile_streaming.py) — size to state volume, never
    # default-32; resolves to the measured-optimal 8 at test SFs and to
    # the 4x-cores cap on a real cluster
    return run_to_table(
        joined,
        output_mode="append",
        state_partitions=state_partitions_for(spark, sf_dir),
    )

