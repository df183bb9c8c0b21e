"""CLI mirroring the reference's flag surface (/root/reference/src/main.rs:16-44).

    python -m zip_to_parquet_spark.cli -i 'archives/**/*.zip' -o out.parquet \
        -g '**/*.png' --no-body --row-group-size 100

Behavioral contract vs the reference, with deliberate divergences documented
in SURVEY.md §2:

- ``-o`` XOR ``--stdout`` required (builder.rs:244-249);
- no ``-g`` ⇒ ALL members are converted (intended semantics; the reference's
  work pass emits zero rows without -g — SURVEY §2.B);
- ``--no-*`` null the column values, never drop columns;
- empty input glob / invalid member glob error out at plan time instead of
  silently writing an empty file / panicking (SURVEY §2 H);
- ``-i`` takes zip and tar inputs alike, mixed in one run: paths ending
  ``.tar``, ``.tar.gz``/``.tgz``, ``.tar.bz2``/``.tbz2`` or ``.tar.xz``/``.txz``
  are read as tar (an extension; the reference reads zip only), every
  other path as zip, with the same flags and error semantics for both;
- hash is standard sha256 hex (SURVEY §2 F1); ``--strict-hash`` reproduces
  the reference's quote-wrapped unpadded encoding bit-for-bit;
- ``-o`` writes ONE parquet file with exact ``--row-group-size`` row groups
  (reference default 100); ``--distributed -o DIR`` writes a parquet
  directory through Spark's commit protocol — the 100 TB path.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="zip-to-parquet-spark",
        description="Convert zip/tar archive members to parquet rows (Spark).",
    )
    p.add_argument(
        "-i",
        "--input",
        action="append",
        required=True,
        help="input archive glob (repeatable), e.g. 'data/**/*.zip'; "
        "tar suffixes (.tar, .tar.gz, .tgz, ...) are read as tar",
    )
    p.add_argument("-o", "--output", help="output parquet path")
    p.add_argument(
        "--stdout", action="store_true", help="stream parquet bytes to stdout"
    )
    p.add_argument("-g", "--glob", help="member-name glob filter, e.g. '**/*.png'")
    p.add_argument("--no-body", action="store_true", help="null the body column")
    p.add_argument("--no-source", action="store_true", help="null the source column")
    p.add_argument("--no-hash", action="store_true", help="null the hash column")
    p.add_argument(
        "--row-group-size",
        type=int,
        default=100,
        help="rows per parquet row group in single-file mode (default 100)",
    )
    p.add_argument(
        "--distributed",
        action="store_true",
        help="write a parquet directory via Spark's committer instead of one file",
    )
    p.add_argument(
        "--on-error",
        choices=["fail", "skip"],
        default="fail",
        help="fail the job on an unreadable archive (default) or skip it",
    )
    p.add_argument(
        "--strict-hash",
        action="store_true",
        help="emit the reference's quote-wrapped unpadded hex hash encoding "
        "(builder.rs:196-209) instead of standard sha256 hex",
    )
    p.add_argument("--simple", action="store_true", help="plain progress lines")
    p.add_argument(
        "--format",
        choices=["parquet", "orc", "jsonl"],
        default="parquet",
        help="output format (orc requires --distributed; jsonl requires "
        "--distributed with --no-body; single-file and "
        "stdout byte-parity modes are parquet-only)",
    )
    return p


class _ProgressReporter:
    """Plain-line progress for ``--simple`` — the Spark-native analog of the
    reference's indicatif/simple logger split (logger.rs:13-29): a daemon
    thread polls ``statusTracker`` and prints one line per change in
    completed-task count, so a long conversion shows liveness without a TTY
    progress bar (log-file friendly, like the reference's simple mode)."""

    def __init__(self, spark, every: float = 2.0):
        import threading

        self._tracker = spark.sparkContext.statusTracker()
        self._every = every
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        last = -1
        while not self._stop.wait(self._every):
            done = total = 0
            try:
                for sid in self._tracker.getActiveStageIds():
                    info = self._tracker.getStageInfo(sid)
                    if info is not None:
                        done += info.numCompletedTasks
                        total += info.numTasks
            except Exception:
                continue  # tracker races with stage completion; retry next tick
            if total and done != last:
                print(f"progress: {done}/{total} tasks", file=sys.stderr)
                last = done

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if bool(args.output) == bool(args.stdout):
        print("error: exactly one of -o/--output or --stdout is required", file=sys.stderr)
        return 2
    if args.format == "orc" and not (args.output and args.distributed):
        print("error: --format orc requires -o/--output with --distributed", file=sys.stderr)
        return 2
    if args.format == "jsonl" and not (
        args.output and args.distributed and args.no_body
    ):
        # JSONL is a text format: the binary body column has no faithful
        # JSON encoding, so the sharded sink requires --no-body.
        print(
            "error: --format jsonl requires -o/--output with --distributed"
            " and --no-body",
            file=sys.stderr,
        )
        return 2

    from zip_to_parquet_spark.session import get_spark
    from zip_to_parquet_spark.sinks import (
        write_parquet,
        write_parquet_stdout,
        write_single_parquet_file,
    )
    from zip_to_parquet_spark.sources.zipsource import read_zip_members

    spark = get_spark("zip-to-parquet-cli")
    try:
        # Exact skip accounting in permissive mode (reference logs each
        # failed archive, builder.rs:65-71): executors bump the accumulator
        # as they drop archives; the driver reads it after the action.
        skip_acc = (
            spark.sparkContext.accumulator(0) if args.on_error == "skip" else None
        )
        df = read_zip_members(
            spark,
            args.input,
            member_glob=args.glob,
            body=not args.no_body,
            source=not args.no_source,
            sha=not args.no_hash,
            on_error=args.on_error,
            strict_hash=args.strict_hash,
            skip_counter=skip_acc,
        )
        import contextlib

        reporter = _ProgressReporter(spark) if args.simple else contextlib.nullcontext()
        with reporter:
            if args.stdout:
                n = write_parquet_stdout(df, row_group_rows=args.row_group_size)
            elif args.distributed:
                if args.format == "orc":
                    from zip_to_parquet_spark.sinks import write_orc

                    write_orc(df, args.output)
                elif args.format == "jsonl":
                    from zip_to_parquet_spark.sources.jsonlsink import (
                        write_jsonl_shards,
                    )

                    write_jsonl_shards(df, args.output)
                else:
                    write_parquet(df, args.output, mode="overwrite")
                n = -1
            else:
                n = write_single_parquet_file(
                    df, args.output, row_group_rows=args.row_group_size
                )
        if not args.stdout:
            where = args.output
            print(
                f"wrote {n if n >= 0 else 'all'} member rows to {where}",
                file=sys.stderr,
            )
        if skip_acc is not None and skip_acc.value:
            # Per-archive detail lines print on the stderr of whichever
            # process read the archive: the driver in local mode, executor
            # logs when --distributed runs on a real cluster.
            where_logs = (
                "executor logs" if args.distributed else "details above"
            )
            print(
                f"skipped {skip_acc.value} unreadable archive(s)"
                f" (one line per archive; {where_logs})",
                file=sys.stderr,
            )
        return 0
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
