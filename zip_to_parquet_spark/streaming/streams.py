"""Structured Streaming operators over the events stream (SURVEY.md §2 E /
§7 M4 stretch surface).

The reference is a terminating batch job with no time dimension
(/root/reference/src/main.rs:46-69); its producer/consumer channel
(builder.rs:53) is pipelining, not streaming semantics. This module is the
extension surface: event-time windowed aggregation with watermarks, session
windows, and a custom stateful operator via ``applyInPandasWithState``.

Design for scale: every operator here is keyed state over a shuffle on the
group key (window/event_type, user_id) — Spark's streaming state store
partitions by that key, so a 1000-executor cluster shards state naturally.
Watermarks bound state size; nothing accumulates unbounded driver-side.

Reading: every events stream is built by ``_events_stream`` (one
``readStream``; ``ts`` decoded by ``schema.decode_events_ts``, the same
decoder batch reads use). ``read_events_stream`` reads the fixture; the two
replays, ``read_events_stream_staged`` (a deliberately late band) and
``read_events_stream_ordered`` (time-ordered spans), split it through one
splitter, ``_replay_stream``, and differ only in their row masks.

Testability: each stream can be run with ``Trigger.AvailableNow`` over the
bounded events fixture and drained to a memory sink, making the final
result deterministic and DuckDB-oracle-checkable (the fixture arrives as
one file → one micro-batch, so update-mode emissions equal final state).
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from zip_to_parquet_spark.runtime import build_once, pinned_conf, session_scratch
from zip_to_parquet_spark.schema import decode_events_ts

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa

__all__ = [
    "read_events_stream",
    "read_events_stream_staged",
    "read_events_stream_ordered",
    "strict_pairs_stateful",
    "clicks_to_purchases_join",
    "windowed_counts",
    "sessionized_stream",
    "stateful_user_totals",
    "run_stream_to_memory",
    "stream_to_parquet_foreachbatch",
    "tws_running_totals",
    "rocksdb_state_store",
]


def _events_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """The one ``readStream`` over an events parquet ``path``: a directory
    (a Spark-written table, a replay's split files) loads directly; a
    single file loads through ``pathGlobFilter`` on its parent, because a
    file stream source takes only directories. File streams cannot infer,
    so the schema comes from a batch read of the same path (footer only,
    no job); ``schema.decode_events_ts`` then lands ``ts`` as a TIMESTAMP
    whichever encoding the files carry."""

    def read() -> DataFrame:
        schema = spark.read.parquet(path).schema
        reader = spark.readStream.schema(schema).options(**options)
        if os.path.isdir(path):
            return reader.parquet(path)
        parent, name = os.path.split(path)
        return reader.option("pathGlobFilter", name).parquet(parent)

    return decode_events_ts(spark, read)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream over the events fixture: one micro-batch per file
    under AvailableNow (one for the single-file fixture; a directory of
    arriving files in production)."""
    return _events_stream(spark, f"{sf_dir}/events.parquet")


def windowed_counts(events: DataFrame, slide: str | None = None) -> DataFrame:
    """Watermarked 1-hour tumbling-window aggregation — the canonical
    late-data-tolerant streaming agg. State is keyed on (window,
    event_type); the 10-minute watermark lets Spark drop windows older
    than max(event time) - delay.

    A ``slide`` under the hour turns this into a HOPPING window: each
    event lands in window/slide overlapping windows (state grows by the
    same factor — the watermark bound still caps it). Spark aligns hop starts
    to epoch multiples of ``slide``, which the oracle mirrors with
    ``time_bucket(slide)`` minus hop offsets (both 30-minute-aligned
    origins)."""
    win = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # value is a 2-decimal quantity stored as double: sum exact
            # decimals so the aggregate is order/engine-independent (the
            # round(sum(double), 2) form hash-diverges on .xx5 boundaries).
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Native streaming sessionization: ``session_window`` merges events
    within 30 minutes of each other into one growing window per user
    (10-minute watermark). The
    batch twin (plans.relational.events_sessionize) does the same with
    lag/running-sum; this is the incremental form with keyed session state."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Exact decimal sum — see windowed_counts.
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


# State keeps the running total in integer cents: float accumulation across
# micro-batches would drift order-dependently; int64 cents are exact and make
# the emitted total bit-identical to an exact decimal sum.
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)
_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # value is a 2-decimal quantity stored as double: per-element
        # round-to-cents is exact, and the int64 running sum is associative.
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    per-user event count + value total, emitted each micro-batch in update
    mode. Arrow-batched; state is two scalars per user, sharded by the
    group-key shuffle — the template for bespoke streaming accumulators
    Spark's built-ins can't express."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def clicks_to_purchases_join(
    clicks: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase matches the same user's
    clicks from the preceding 30 minutes.

    Both sides carry 10-minute watermarks and the join condition bounds
    event-time distance, so Spark can expire join state (clicks older
    than watermark + 30 minutes are dropped) — the canonical bounded-state
    stream-stream join. Inner join ⇒ append-mode emissions on a bounded
    drain equal the complete batch answer.

    ``how="left_outer"`` adds the null-emission semantic: a purchase
    with no qualifying click emits once with NULL click columns — but
    only after the watermark passes the point where no future click
    could still match (unmatched purchases in the final watermark
    window stay in state, unemitted — mirrored by the key's oracle).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "10 minutes")
    p = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "10 minutes")
    return p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        how,
    ).select(
        "user_id", "click_event_id", "click_ts", "purchase_event_id", "purchase_ts"
    )


_SINK_IDS = itertools.count()


# Stateful streaming CANNOT use AQE: the shuffle-partition count is pinned
# into the checkpoint as the state-store count, one store per partition per
# stateful operator, each with open/commit/snapshot overhead every
# micro-batch. Sizing it to the state's cardinality is the standard
# Structured Streaming deployment rule (it cannot change after the first
# checkpoint). The fixture's aggregations carry thousands of keys, so 8
# stores; a production topic with billions of keys sizes this to the
# cluster, not to AQE.
_STATE_PARTITIONS = "8"


def run_stream_to_memory(
    df: DataFrame, output_mode: str, name_hint: str = "stream"
) -> DataFrame:
    """Drain a (bounded) stream with Trigger.AvailableNow into a memory
    sink and return the result as a batch DataFrame. The session's
    ``spark.sql.shuffle.partitions`` is ``_STATE_PARTITIONS`` for the
    stream's lifetime and restored after.

    Test/oracle harness only — the memory sink collects to the driver. The
    production path is ``df.writeStream.format("parquet")`` (or kafka etc.)
    with the same trigger semantics.
    """
    spark = df.sparkSession
    name = f"z2ps_{name_hint}_{next(_SINK_IDS)}"
    with pinned_conf(spark, "spark.sql.shuffle.partitions", _STATE_PARTITIONS):
        (
            df.writeStream.trigger(availableNow=True)
            .format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def _replay_stream(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    masks: Callable[[pa.Array, int, int], tuple[pa.Array, ...]],
) -> DataFrame:
    """Events replayed as one split file per ``masks`` entry, one
    micro-batch each, in mask order. The split set is built once per
    session under ``runtime.session_scratch(spark, tag, sf_dir)``.

    ``masks(us, mn, mx)`` gets the integer µs of every event (floor for
    ns, matching DuckDB's truncation) and their min and max (0 and 0 for
    empty events) and returns the boolean row masks of the files. The
    split files are written driver-side with pyarrow (bounded: the events
    fixture; production never does this — real streams are files
    arriving over time). pyarrow reads a single file or a Spark-written
    directory alike. Every split carries ``ts`` as a µs-precision naive
    timestamp (the oracle's ``epoch_us`` truncation) with the source's
    schema metadata dropped, so Spark always reads one known physical
    type. Under ``maxFilesPerTrigger=1`` + AvailableNow the files process
    in mtime order, pinned 100 s apart."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def split(out_dir: str) -> None:
        t = pq.read_table(f"{sf_dir}/events.parquet")
        ts = t["ts"]
        if str(ts.type) == "int64" or getattr(ts.type, "unit", None) == "ns":
            us = pc.divide(pc.cast(ts, "int64"), 1000)
        else:
            us = pc.cast(pc.cast(ts, "timestamp[us]"), "int64")
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", pc.cast(us, pa.timestamp("us"))
        ).replace_schema_metadata(None)
        mn = pc.min(us).as_py()
        mx = pc.max(us).as_py()
        if mn is None:  # empty events: empty batches, no time span
            mn = mx = 0
        for i, mask in enumerate(masks(us, mn, mx)):
            path = os.path.join(out_dir, f"b{i}.parquet")
            pq.write_table(t.filter(mask), path)
            os.utime(path, (1_000_000 + 100 * i, 1_000_000 + 100 * i))

    scratch = build_once(session_scratch(spark, tag, sf_dir), split)
    return _events_stream(spark, scratch, maxFilesPerTrigger=1)


def _late_band_masks(us: pa.Array, mn: int, mx: int) -> tuple[pa.Array, ...]:
    import pyarrow.compute as pc

    t1 = mn + (mx - mn) * 6 // 10
    t2 = mn + (mx - mn) * 9 // 10
    t3 = mn + (mx - mn) * 95 // 100
    return (
        pc.less(us, t1),  # on time
        pc.and_(pc.greater_equal(us, t2), pc.less(us, t3)),  # newer
        pc.greater_equal(us, t3),  # newest (outruns the late band)
        pc.and_(pc.greater_equal(us, t1), pc.less(us, t2)),  # late
    )


def read_events_stream_staged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Events stream replayed as FOUR deterministic micro-batches to
    exercise watermark late-data semantics (test-harness scaffolding for
    the production case of files arriving over time in a landing dir):

    * file 0 — "on time":   ts  <  t1            (first 60% of the span)
    * file 1 — "newer":     t2 <= ts < t3        (90–95% band)
    * file 2 — "newest":    ts  >= t3            (last 5%)
    * file 3 — "very late": t1 <= ts < t2        (the 60–90% band,
                                                  arriving LAST)

    with ``t1,t2,t3 = mn + (mx−mn)·{6∕10, 9∕10, 95∕100}`` computed in
    integer MICROSECONDS from the events' (min, max) — the same
    arithmetic a SQL oracle can reproduce exactly.

    Measured Spark semantics (pinned here because they are NOT the naive
    reading of the docs): the watermark used to FILTER batch N's input is
    computed from data through batch N−2 (one-batch update lag), while
    end-of-batch EVICTION/emission uses data through N−1. Hence the late
    file must trail the data that outruns it by TWO batches: batch 3's
    input filter runs at max(file 0 ∪ file 1) − delay ≈ t3 − delay,
    which is ≈5% of the span (≫ the 10-min delay) above every file-3
    window — ALL of file 3 is dropped as late. A 2- or 3-file split drops
    nothing (verified empirically) because of that same lag.
    """
    return _replay_stream(spark, sf_dir, "z2ps_stream_late", _late_band_masks)


def stream_to_parquet_foreachbatch(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Production sink pattern: UPDATE-mode emissions land in parquet via
    ``foreachBatch``, partitioned by micro-batch id with DYNAMIC partition
    overwrite — the standard exactly-once recipe for sinks without
    transactional MERGE:

    * each batch's rows overwrite ONLY their own ``_batch_id`` partition,
      so a replayed batch (failure between sink write and offset commit)
      rewrites the same partition instead of appending duplicates —
      idempotent by layout;
    * the checkpoint makes re-runs process nothing (offsets committed);
    * readers reconstruct current state with last-writer-wins per key
      (max ``_batch_id``), i.e. the read side of an upsert.

    With a transactional table format the body of ``write_batch`` becomes
    a real MERGE (operators/joins.merge_upsert is the batch analog); the
    batch-id partition trick is the format-agnostic fallback.
    """
    from pyspark.sql import functions as SF

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", SF.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    with pinned_conf(
        df.sparkSession, "spark.sql.shuffle.partitions", _STATE_PARTITIONS
    ):
        (
            df.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .start()
            .awaitTermination()
        )


def tws_running_totals(events: DataFrame):
    """Per-user running (count, cents) totals via ``transformWithState``
    (Spark 4's successor to applyInPandasWithState: typed per-key state
    handles — value/list/map — plus timers, REQUIRING the RocksDB state
    store provider, whose off-heap state is also the only provider that
    survives 100 TB-scale key cardinalities without executor heap
    pressure).

    Semantics here: a ValueState[(n, cents)] per user, updated per
    micro-batch, emitting the post-update totals — both monotone
    nondecreasing (event values are positive), so the FINAL state per
    user is recoverable from an update-mode sink as the row-wise max.
    Exact integer cents; deterministic across replays.

    Call inside ``rocksdb_state_store(spark)`` — transformWithState
    refuses the default HDFS-backed provider.

    ENVIRONMENT GATE: the transformWithState state-server protocol
    speaks protobuf; this container ships no ``google.protobuf``, so the
    operator raises a clear ImportError here and is exercised by a
    pytest that skips when protobuf is absent (same policy as the
    exotic-codec multimodal stubs — the Spark-side plumbing is real and
    complete; only the environment is missing).
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithState requires the protobuf package "
            "(google.protobuf) for its state-server protocol; not "
            "installed in this environment"
        ) from exc

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState(
                "tot", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            if self._tot.exists():
                prev = self._tot.get()
                n += int(prev[0])
                cents += int(prev[1])
            self._tot.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    keyed = events.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).groupBy("user_id")
    return keyed.transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id BIGINT, n_events BIGINT, total_cents BIGINT",
        outputMode="Update",
        timeMode="None",
    )


def rocksdb_state_store(spark: SparkSession):
    """Pin the RocksDB state store provider for the enclosed streaming
    query (transformWithState requires it; it is also the provider that
    holds production-scale state off-heap). Restores the prior provider
    after."""
    return pinned_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )


def _ordered_masks(us: pa.Array, mn: int, mx: int) -> tuple[pa.Array, ...]:
    import pyarrow.compute as pc

    # (prev_cut, cut] in integer µs: equal-timestamp rows can never
    # straddle a cut.
    c1 = mn + (mx - mn) // 3
    c2 = mn + (mx - mn) * 2 // 3
    return (
        pc.less_equal(us, c1),
        pc.and_(pc.greater(us, c1), pc.less_equal(us, c2)),
        pc.greater(us, c2),
    )


def read_events_stream_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events replayed as three TIME-ORDERED micro-batches (equal spans of
    the [min, max] event-time range, arriving in order) — the landing-dir
    contract an ORDER-SENSITIVE stateful operator assumes: a file that
    arrives later never contains earlier events. Contrast
    read_events_stream_staged, which deliberately delivers a late band
    to exercise watermark drops; pattern automata need this reader."""
    return _replay_stream(spark, sf_dir, "z2ps_stream_ordered", _ordered_masks)


_PAIR_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_us", LongType()),
        StructField("purchase_us", LongType()),
    ]
)
_PAIR_STATE_SCHEMA = StructType(
    [StructField("last_us", LongType()), StructField("last_type", StringType())]
)


def _update_strict_pairs(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["us", "event_id"])
    last_us, last_type = state.get if state.exists else (None, None)
    views, purchases = [], []
    for us, et in zip(rows["us"].astype("int64"), rows["event_type"]):
        us = int(us)
        if (
            last_type == "view"
            and et == "purchase"
            and us - last_us <= 1_800_000_000
        ):
            views.append(last_us)
            purchases.append(us)
        last_us, last_type = us, et
    state.update((last_us, last_type))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(views),
            "view_us": views,
            "purchase_us": purchases,
        }
    )


def strict_pairs_stateful(events: DataFrame) -> DataFrame:
    """Streaming strict-contiguity pattern automaton
    (``applyInPandasWithState``): per user, remember only the LAST event
    (type, µs) across micro-batches; a 'purchase' arriving immediately
    after a remembered 'view' within 30 minutes emits a match once.
    Correct under the time-ordered arrival contract of
    read_events_stream_ordered — each batch is sorted per user
    (ts, event_id) before the linear scan, and the carried state stitches
    the batch boundary, so a view ending batch k matches a purchase
    opening batch k+1.

    State is TWO scalars per user — the minimal automaton memory — sharded
    by the group-key shuffle; at 100 TB the state store grows with
    |users|, not event volume."""
    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    ).groupBy("user_id")
    return keyed.applyInPandasWithState(
        _update_strict_pairs,
        outputStructType=_PAIR_OUT_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
