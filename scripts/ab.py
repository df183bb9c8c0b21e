#!/usr/bin/env python
"""Parity-gated, interleaved A/B of two git trees on registered query keys.

Usage::

    python scripts/ab.py BASE HEAD KEY [KEY ...]

``BASE`` and ``HEAD`` are git revisions, or ``.`` for the working tree. A
revision is checked out with ``git worktree add --detach`` into a
temporary ``z2ps-ab-*`` directory, removed again when the run ends.

Each pass runs every tree in a fresh Python process, alternating which tree
goes first. On that tree's code the process builds bench.py's session
(``_harness.bench_session``) and then, per key, collects the rows once and
digests them, and times one noop-sink run with the hypervisor steal it
overlapped. Both trees' rows are normalized by THIS tree's
``tests/parity.rows_multiset``, so one rule judges both sides.

No timing is printed unless every process's digest of every key matched:
on a mismatch the script prints ``PARITY FAIL`` and exits 1. Otherwise it
reports, per key and tree, the steal-clean minimum (a sample that overlapped
>= 0.5 s of steal never displaces a clean one, as in bench.py's heavy
section) and every pass's time. A bad revision or a failed child process
exits 2.

Environment: ``SPARK_GRAFT_SF_DIR`` (default sf0.1), ``SPARK_GRAFT_CPUS``
(default: all cores) and ``AB_PASSES`` (default 4).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import _harness

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(SCRIPTS)
RESULT = "AB-RESULT "
DIRTY_STEAL_S = 0.5

# A child process: this script's directory first (for ab and _harness), the
# tree under test ahead of it, so the engine imported is the tree's own.
_CHILD = (
    f"import sys; sys.path.insert(0, {SCRIPTS!r}); import ab; "
    "sys.exit(ab.child(sys.argv[1], sys.argv[2:]))"
)


def child(tree: str, keys: list[str]) -> int:
    spec = importlib.util.spec_from_file_location(
        "_ab_parity", os.path.join(ROOT, "tests", "parity.py")
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    sys.path.insert(0, tree)
    spark = _harness.bench_session("z2ps-ab")
    from zip_to_parquet_spark.plans import all_queries

    queries = all_queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for key in keys:
        df = queries[key](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        items = sorted(parity.rows_multiset(df.columns, rows).items(), key=repr)
        digest = hashlib.sha256(repr((sorted(df.columns), items)).encode())
        s0 = _harness.steal()
        t0 = time.perf_counter()
        queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        out = {
            "key": key,
            "rows": len(rows),
            "digest": digest.hexdigest(),
            "secs": round(secs, 3),
            "steal": round(_harness.steal() - s0, 2),
        }
        print(RESULT + json.dumps(out), flush=True)
    spark.stop()
    return 0


def _run_child(tree: str, keys: list[str]) -> dict[str, dict] | None:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, tree, *keys],
        cwd=tree,
        capture_output=True,
        text=True,
    )
    results = {}
    for line in proc.stdout.splitlines():
        if line.startswith(RESULT):
            r = json.loads(line[len(RESULT):])
            results[r["key"]] = r
    if proc.returncode != 0 or set(results) != set(keys):
        print(proc.stderr[-4000:], file=sys.stderr)
        return None
    return results


def _checkout(rev: str, made: list[str]) -> str:
    if rev == ".":
        return ROOT
    path = tempfile.mkdtemp(prefix="z2ps-ab-")
    made.append(path)
    subprocess.run(
        ["git", "-C", ROOT, "worktree", "add", "--quiet", "--detach", path, rev],
        check=True,
    )
    return path


def _remove(path: str) -> None:
    subprocess.run(
        ["git", "-C", ROOT, "worktree", "remove", "--force", path],
        capture_output=True,
    )
    if os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)
    subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)


def _steal_clean_min(samples: list[tuple[float, float]]) -> tuple[float, bool]:
    """(best seconds, clean?) over (seconds, steal) samples: the fastest
    clean sample if there is one, else the fastest of all."""
    clean = [s for s, st in samples if st < DIRTY_STEAL_S]
    return (min(clean), True) if clean else (min(s for s, _ in samples), False)


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, head, keys = argv[0], argv[1], argv[2:]
    passes = int(os.environ.get("AB_PASSES", "4"))
    made: list[str] = []
    try:
        trees = [
            (f"base {base}", _checkout(base, made)),
            (f"head {head}", _checkout(head, made)),
        ]
        runs: dict[str, list[dict]] = {label: [] for label, _ in trees}
        ref: dict[str, str] = {}
        for p in range(passes):
            for label, tree in trees if p % 2 == 0 else trees[::-1]:
                res = _run_child(tree, keys)
                if res is None:
                    print(f"CHILD FAIL: {label}, pass {p}")
                    return 2
                for key in keys:
                    got = res[key]["digest"]
                    if ref.setdefault(key, got) != got:
                        print(
                            f"PARITY FAIL: {key} digest differs in {label}, "
                            f"pass {p} ({res[key]['rows']} rows)"
                        )
                        return 1
                runs[label].append(res)
                print(f"  pass{p} {label}: rows digested", file=sys.stderr)
        rows = {key: runs[trees[0][0]][0][key]["rows"] for key in keys}
        print(
            f"parity OK: {len(trees)} trees x {passes} passes, "
            + ", ".join(f"{k} ({n} rows)" for k, n in rows.items())
        )
        width = max(len(label) for label, _ in trees)
        for key in keys:
            print(key)
            for label, _ in trees:
                samples = [(r[key]["secs"], r[key]["steal"]) for r in runs[label]]
                best, clean = _steal_clean_min(samples)
                every = " ".join(
                    f"{s:.2f}" + (f"[steal {st:.1f}s]" if st >= DIRTY_STEAL_S else "")
                    for s, st in samples
                )
                print(
                    f"  {label:<{width}}  BEST {best:.2f}s"
                    + ("" if clean else " [steal]")
                    + f"  passes: {every}"
                )
        return 0
    except subprocess.CalledProcessError as exc:
        print(f"FAILED: {' '.join(exc.cmd)}", file=sys.stderr)
        return 2
    finally:
        for path in made:
            _remove(path)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
