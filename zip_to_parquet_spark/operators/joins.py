"""Skew-mitigation join helper: explicit salting.

Spark's AQE skew-join handles moderate skew automatically (enabled in
session.py); explicit salting is the deterministic heavy-artillery version
for pathological keys — and the only option when the skewed side feeds a
windowed/stateful op where AQE cannot split partitions.

(First choice for a genuinely small right side is still ``F.broadcast`` —
salting exists for when both sides are too big to broadcast AND the join
key is too skewed to shuffle naively.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "merge_upsert", "scd2_history"]


def salted_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner equi-join on ``event_type`` that spreads each hot key across
    16 reducers.

    Left rows get a deterministic per-row salt (hash of the whole row, NOT
    of the key — same-key rows must scatter); the right side is replicated
    16 times with an exploded salt column; the join key becomes
    (key, salt). Correctness is unchanged: every left row still meets
    every matching right row exactly once. Shuffle volume: left
    unchanged, right × 16 — the salt count should track the hot-key
    partition excess, not exceed it.
    """
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(16))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(16 - 1)))
    )
    out = l.join(r, ["event_type", "__salt"], "inner")
    return out.drop("__salt")


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    enforce_contract: bool = True,
) -> DataFrame:
    """Warehouse MERGE INTO as a pure DataFrame plan: apply a change set
    (``op`` ∈ 'upsert' | 'delete', keyed on ``doc_id``) to a base snapshot —
    upserts insert or replace the payload, deletes drop the row, untouched
    base rows pass through. The SCD type-1 refresh primitive (and the batch
    analog of Delta/Iceberg MERGE, expressed engine-agnostically).

    Output schema == the BASE schema: change-payload columns resolve
    from the change row on upsert, base-only columns (present in base
    but not in the change feed — a narrow feed refreshing a wide
    snapshot) pass through from base and are NULL for inserted ids.

    Precondition: at most ONE change row per id, and every change row's
    op must be exactly 'upsert' or 'delete'. With ``enforce_contract``
    (default), violations fail the job loudly at execution time — the
    same behavior as Delta/Iceberg MERGE's "multiple source rows
    matched" error — via a per-row ``raise_error`` guard: a window count
    over the change feed's id (the feed is the small side; its exchange
    is on the join key anyway) catches duplicate ids, and an op-domain
    check catches typo'd ops ('Upsert', 'insert', NULL) that would
    otherwise silently act as deletes. Callers synthesizing insert ids
    must draw them from an id space disjoint from base (e.g. a high bit,
    a composite key), not a fixed offset a growing corpus can collide
    with.

    ONE full-outer equi-join on the id — uniform key, sort-merge at TB
    scale; payload resolution is a map over the joined row. Bucket both
    sides on the id (sinks.write_bucketed_table) for shuffle-free
    recurring refreshes.
    """
    payload = [c for c in changes.columns if c not in ("doc_id", "op")]
    missing = [c for c in payload if c not in base.columns]
    if missing:
        raise ValueError(f"change payload columns absent from base: {missing}")
    base_only = [c for c in base.columns if c != "doc_id" and c not in payload]
    b = base.select(
        F.col("doc_id").alias("__id"),
        *[F.col(c).alias(f"__b_{c}") for c in payload + base_only],
    )
    c = changes.select(
        F.col("doc_id").alias("__id"),
        F.col("op").alias("__op"),
        *[F.col(cc).alias(f"__c_{cc}") for cc in payload],
    )
    if enforce_contract:
        from pyspark.sql import Window

        n_for_id = F.count(F.lit(1)).over(Window.partitionBy("__id"))
        violation = F.concat(
            F.lit("merge_upsert contract violation for id "),
            # coalesce like __op: F.concat yields NULL if ANY piece is
            # NULL, which would raise with an empty message for NULL ids.
            F.coalesce(F.col("__id").cast("string"), F.lit("NULL")),
            F.lit(": op="),
            F.coalesce(F.col("__op"), F.lit("NULL")),
            F.lit(" (must be upsert|delete), change rows for id="),
            F.col("__n").cast("string"),
            F.lit(" (must be 1)"),
        )
        c = (
            c.withColumn("__n", n_for_id)
            .withColumn(
                "__op",
                F.when(
                    F.col("__op").isin("upsert", "delete")
                    & (F.col("__n") == 1),
                    F.col("__op"),
                ).otherwise(F.raise_error(violation)),
            )
            .drop("__n")
        )
    joined = b.join(c, "__id", "full_outer")
    keep = F.col("__op").isNull() | (F.col("__op") == "upsert")
    out_cols = []
    for cc in base.columns:
        if cc == "doc_id":
            continue
        if cc in payload:
            out_cols.append(
                F.when(F.col("__op") == "upsert", F.col(f"__c_{cc}"))
                .otherwise(F.col(f"__b_{cc}"))
                .alias(cc)
            )
        else:
            out_cols.append(F.col(f"__b_{cc}").alias(cc))
    return joined.filter(keep).select(F.col("__id").alias("doc_id"), *out_cols)


def scd2_history(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2: version the dimension by diffing
    two snapshots taken on 2024-02-01. Per id: unchanged → one open row;
    changed → the old version closed at 2024-02-01 plus the new version
    open; added → new open row; removed → old row closed at 2024-02-01.
    ``valid_to`` NULL means the version is current.

    ONE full-outer equi-join on the id, then an in-row explode of the
    (up to 2) versions — map-only after the join, no second shuffle.
    The attribute comparison is null-safe (``eqNullSafe`` per column).
    """
    o = old.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    ).withColumn("__in_o", F.lit(True))
    n = new.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    ).withColumn("__in_n", F.lit(True))
    j = o.join(n, "__id", "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    in_o = F.col("__in_o").isNotNull()
    in_n = F.col("__in_n").isNotNull()

    def ver(prefix: str, valid_to):
        return F.struct(
            *[
                F.col(f"__{prefix}_{c}").cast("string").alias(c)
                for c in compare_cols
            ],
            valid_to.cast("date").alias("valid_to"),
        )

    closed_old = ver("o", F.lit("2024-02-01"))
    open_old = ver("o", F.lit(None))
    open_new = ver("n", F.lit(None))
    versions = (
        F.when(in_o & in_n & same, F.array(open_old))
        .when(in_o & in_n & ~same, F.array(closed_old, open_new))
        .when(in_o & ~in_n, F.array(closed_old))
        .otherwise(F.array(open_new))
    )
    return (
        j.select(F.col("__id").alias(id_col), F.explode(versions).alias("v"))
        .select(
            id_col,
            *[F.col(f"v.{c}").alias(c) for c in compare_cols],
            F.col("v.valid_to").alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )
