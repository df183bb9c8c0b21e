"""Multi-dimensional data layout: Z-order (Morton) clustering for scan
pruning.

The 100 TB problem this solves: a table sorted on ONE column prunes scans
only on that column's predicates. Interleaving the bits of two query
dimensions (Morton order — the Delta Lake / Iceberg ``OPTIMIZE ZORDER BY``
technique, after Morton 1966) gives every data file a TIGHT min/max range
on BOTH dimensions, so either predicate prunes files at planning time.

Everything here is exact integer arithmetic (div/mod bit extraction —
no engine-specific bit intrinsics), so DuckDB replays file assignment
bit-for-bit:

* **Z-value**: low ZORDER_BITS bits of each dimension, interleaved via
  ``Σ ((a div 2^i) % 2)·4^i + ((b div 2^i) % 2)·2·4^i`` — one codegen'd
  map-only expression.
* **File boundaries**: equi-depth thresholds over a DETERMINISTIC
  md5-sampled subset — the honest distributed story (Spark's
  RangePartitioner samples too; a full-data global sort or row_number
  would funnel the corpus through one partition). The sample is bounded
  (~2000 rows regardless of corpus size), so its
  cumulative-count window is a constant-size step; per-row assignment is
  a map against the broadcast one-row threshold array — the same shape
  as ``pipeline.curriculum_buckets``.

Reference: the zip CLI has no layout surface (SURVEY §0); north-star
extension (scan-pruning layout for the warehouse the sinks write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "ZORDER_VALUE_SQL",
    "md5_low16_sql",
    "md5_low_bytes_sql",
    "zorder_file_stats",
    "zorder_pruning_eval",
]


ZORDER_BITS = 16

# SQL fragment (valid in Spark AND DuckDB dialects, modulo DuckDB's ``//``
# vs Spark's ``div`` — the caller substitutes) interleaving the low
# ZORDER_BITS bits of ``u`` (even positions) and ``d`` (odd positions).
ZORDER_VALUE_SQL = " + ".join(
    f"((u div {2**i}) % 2) * {4**i} + ((d div {2**i}) % 2) * {2 * 4**i}"
    for i in range(ZORDER_BITS)
)


def md5_low_bytes_sql(expr: str, n_bytes: int = 2) -> str:
    """Little-endian low ``n_bytes`` (≤ 8) of md5(expr) as a Spark SQL
    fragment — digest bytes 8..8+n−1, the value DuckDB's
    ``md5_number_lower(x) % 256^n`` produces (the md5_number_lower
    contract from classify.trigram_feats_py, widened)."""
    assert 1 <= n_bytes <= 7  # 8 would need unsigned; 7 bytes stay in long
    terms = []
    for j in range(n_bytes):
        pos = 17 + 2 * j
        terms.append(
            f"{256**j} * cast(conv(substring(md5(cast({expr} as binary)),"
            f" {pos}, 2), 16, 10) as bigint)"
        )
    return " + ".join(terms)


def md5_low16_sql(expr: str) -> str:
    """Little-endian low 16 bits of md5(expr) (see md5_low_bytes_sql)."""
    return md5_low_bytes_sql(expr, 2)


def _events_with_z(events: DataFrame) -> DataFrame:
    return (
        events.select(
            F.col("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .select(
            "event_id",
            "user_id",
            "day",
            (F.col("user_id") % (2**ZORDER_BITS)).alias("u"),
            (F.col("day") % (2**ZORDER_BITS)).alias("d"),
        )
        .withColumn("z", F.expr(ZORDER_VALUE_SQL))
    )


def _boundary_sample(ev: DataFrame, n: int) -> DataFrame:
    """Deterministic bounded boundary sample: md5_low16(event_id) % m == 0
    with m = max(1, n div 2000). Shared by every layout built over the
    same events so competing layouts see identical samples."""
    m = max(1, n // 2000)
    return ev.filter(
        F.expr(md5_low16_sql("cast(event_id as string)")) % m == 0
    )


def _assign_files(ev: DataFrame, samp: DataFrame, key: str) -> DataFrame:
    """Equi-depth assignment to 16 files on ``key``: percentile_disc-style
    integer thresholds over the (bounded) sample's cumulative ``key``
    distribution, then a map against the broadcast one-row threshold
    array — the same shape as pipeline.curriculum_buckets."""
    vc = samp.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.select(
        F.col(key).alias("k"),
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("s"),
    )
    thr = cum.agg(
        F.array(
            *[
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.expr(f"({q} * s + 15) div 16"),
                        F.col("k"),
                    )
                )
                for q in range(1, 16)
            ]
        ).alias("t")
    )
    return ev.crossJoin(F.broadcast(thr)).withColumn(
        "file_id",
        F.expr(
            f"aggregate(t, 0, (acc, x) ->"
            f" acc + if(x is not null and {key} >= x, 1, 0))"
        ),
    )


def zorder_file_stats(events: DataFrame) -> DataFrame:
    """Z-order the events table on (user_id, event day) into 16 files and
    report the per-file min/max of BOTH dimensions → one row per file
    ``(file_id, n_rows, min_user, max_user, min_day, max_day, min_z,
    max_z)`` — the ranges a planner would prune against.

    Boundary sample: rows where ``md5_low16(event_id) % m == 0`` with
    ``m = max(1, n div 2000)`` — deterministic, engine-portable
    (no RNG), and bounded, so the threshold computation never grows with
    the corpus. Thresholds are percentile_disc-style integer mins over
    the sample's cumulative z distribution; assignment is
    ``Σ (z ≥ t_q)`` against the broadcast threshold row. The ``count()``
    here is a bounded driver-side metadata job (the same contract as
    ``vectors.deterministic_training_sample``)."""
    ev = _events_with_z(events)
    samp = _boundary_sample(ev, events.count())
    assigned = _assign_files(ev, samp, "z")
    return assigned.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
    )


def zorder_pruning_eval(events: DataFrame) -> DataFrame:
    """Head-to-head pruning evaluation of the 16-file Z-ordered layout
    against a single-column (user-sorted) layout → one row per probe
    predicate ``(pred, files_zorder, files_usersorted)``.

    Probes are deterministic in-plan quartile points of each dimension's
    RANGE (``min + q·span div 4``); a file must be scanned when the probe
    value falls inside its [min, max] of that dimension. The expected
    shape — and the reason Z-order exists — is that the user-sorted
    layout prunes user probes perfectly but scans EVERY file for day
    probes, while the Z-layout prunes both to a fraction. Companion
    evaluation key to ann_recall_eval: measure the layout before
    trusting it at corpus scale.

    Everything after the two file-stat rollups is constant-size
    (2·16 + 8 rows), broadcast-joined; both layouts reuse ONE
    boundary sample so the comparison is apples-to-apples.
    """
    ev = _events_with_z(events)
    samp = _boundary_sample(ev, events.count())

    def stats(key: str) -> DataFrame:
        return (
            _assign_files(ev, samp, key)
            .groupBy("file_id")
            .agg(
                F.min("user_id").alias("mu"),
                F.max("user_id").alias("xu"),
                F.min("day").alias("md"),
                F.max("day").alias("xd"),
            )
        )

    fz = stats("z")
    fu = stats("user_id")
    bounds = ev.agg(
        F.min("user_id").alias("mnu"),
        F.max("user_id").alias("mxu"),
        F.min("day").alias("mnd"),
        F.max("day").alias("mxd"),
    )
    probes = bounds.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"user_q{q}").alias("pred"),
                        F.lit("user").alias("dim"),
                        F.expr(f"mnu + ({q} * (mxu - mnu)) div 4").alias("v"),
                    )
                    for q in range(4)
                ]
                + [
                    F.struct(
                        F.lit(f"day_q{q}").alias("pred"),
                        F.lit("day").alias("dim"),
                        F.expr(f"mnd + ({q} * (mxd - mnd)) div 4").alias("v"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("p")
    ).select("p.pred", "p.dim", "p.v")

    hit = (
        "(dim = 'user' and mu <= v and v <= xu)"
        " or (dim = 'day' and md <= v and v <= xd)"
    )

    def scanned(files: DataFrame, out: str) -> DataFrame:
        return (
            probes.crossJoin(F.broadcast(files))
            .groupBy("pred")
            .agg(
                F.coalesce(
                    F.sum(F.expr(f"if({hit}, 1, 0)")), F.lit(0)
                ).alias(out)
            )
        )

    return scanned(fz, "files_zorder").join(
        scanned(fu, "files_usersorted"), "pred"
    )
