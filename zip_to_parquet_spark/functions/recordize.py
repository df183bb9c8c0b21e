"""Typed-record parsing of zip member bodies: CSV and JSONL members
become typed columns, entirely in Catalyst (decode → split lines →
``from_csv`` / ``from_json``).

This closes the most common "switching from the reference" gap: the
reference (builder.rs) stops at (name, body-bytes, hash) rows; real zip
archives usually CONTAIN structured records. Parsing stays JVM-side —
no Python in the row path — so a zip of CSVs becomes a typed DataFrame
inside the same scan stage that decompressed it: scan → explode lines →
parse, no shuffle at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_csv_members", "parse_jsonl_members"]


def _lines(members: DataFrame) -> DataFrame:
    """One row per non-empty line of each member body, with the member
    name and 0-based line number carried along."""
    return (
        members.select(
            "name",
            F.posexplode(
                F.split(F.decode(F.col("body"), "UTF-8"), "\n")
            ).alias("line_no", "line"),
        )
        .filter(F.length("line") > 0)
    )


def parse_csv_members(
    members: DataFrame,
    schema: str,
    options: dict | None = None,
) -> DataFrame:
    """Parse each zip member body (``body`` column) as a CSV file with a
    header line into typed columns.

    ``schema`` is a DDL string (e.g. ``"doc_id BIGINT, lang STRING"``);
    each member's first line, the header, is dropped. Malformed lines
    follow ``from_csv`` PERMISSIVE semantics (null columns) unless
    overridden via ``options`` (e.g. ``{"mode": "FAILFAST"}``)."""
    lines = _lines(members).filter(F.col("line_no") > 0)
    parsed = lines.select(
        "name",
        "line_no",
        F.from_csv("line", schema, options or {}).alias("r"),
    )
    return parsed.select("name", "line_no", "r.*")


def parse_jsonl_members(members: DataFrame) -> DataFrame:
    """Parse each zip member body as JSON lines of the documents table's
    ``doc_id, source, n_chars`` columns. Same shape as
    :func:`parse_csv_members` (no header concept)."""
    parsed = _lines(members).select(
        "name",
        "line_no",
        F.from_json("line", "doc_id BIGINT, source STRING, n_chars BIGINT")
        .alias("r"),
    )
    return parsed.select("name", "line_no", "r.*")
