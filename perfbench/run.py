#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload zip_ingest --seed 1 --seconds 1 --trace 0

Workloads (README.md beside this file gives the why and the metric map):

* ``zip_ingest``: the tool's own job on a seeded zip corpus. One pass runs
  ``convert`` (``read_zip_members`` -> ``write_parquet``), ``convert_single``
  (``read_zip_members`` -> ``write_single_parquet_file``, 100-row groups) and
  ``list`` (``count_members``).
* ``query_mix``: registered query keys from ``bench.py``'s headline set over
  deterministic star-schema tables, each built by its registered function and
  run into Spark's ``noop`` sink.

A run sets up the session three times at once (its own and two throw-away
processes) and reports the median as ``setup_s``. It then runs one cold pass, in
which every output is checked, and warm passes until ``--seconds`` have
passed (at least one). One client runs the operations in a closed loop, in
an order the seed shuffles per pass. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the
metrics are the end-to-end ones with ``--trace 0`` and the per-layer ones,
from spans around each layer call, with ``--trace 1``. Caches, outputs and
span files go to ``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import calib  # noqa: E402
import corpus  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402
from results import digest  # noqa: E402

WORKLOADS = ("zip_ingest", "query_mix")
# bench.py's HEADLINE keys, less zip_explode_hash: that key reads zips
# through the source layer, which query_mix must leave alone.
QUERY_KEYS = [
    "q1_pricing_summary",
    "filter_pushdown_project",
    "join_broadcast_dim",
    "join_multiway_q5",
    "window_rank_topn",
    "events_sessionize",
    "join_asof_last_click",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "text_stats",
    "doc_fingerprint",
    "stream_tumbling_window",
]
ROW_GROUP_ROWS = 100
SETUP_PROBES = 2
DRIVER_MEMORY = "2g"
REF_SAMPLES = 16
DEADLINE_S = 140.0  # no pass starts later than this into the run
SPARK_MAIN_CLASS = b"org.apache.spark.deploy.SparkSubmit"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# Process hygiene
# --------------------------------------------------------------------------

def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms() -> list[int]:
    out = []
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if SPARK_MAIN_CLASS in fh.read():
                    out.append(pid)
        except OSError:
            pass
    return out


def descendants(root: int) -> list[int]:
    parent = {}
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[pid] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def vm_hwm_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _wait_gone(pids: list[int], timeout: float) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return True
        time.sleep(0.1)
    return False


def configure_env() -> None:
    """Session environment shared by the run and its set-up probes."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The engine's own knob (default 8g). A 2 GiB heap holds every workload;
    # a larger one only lets heap sizing, and so peak RSS, wander.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """Build the CLI's session and ship the package; time each step."""
    t0 = time.perf_counter()
    from zip_to_parquet_spark.runtime import ensure_shipped
    from zip_to_parquet_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    ensure_shipped(spark)
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1,
                   "ensure_shipped_s": t3 - t2, "setup_s": t3 - t0}


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and the JVM's Python workers, and wait."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        if not _wait_gone(kids, 30):
            for p in kids:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            _wait_gone(kids, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup_probe() -> int:
    configure_env()
    spark, timing = start_session()
    stop_session(spark)
    print(json.dumps(timing), flush=True)
    return 0


def concurrent_setups():
    """Start this run's session while ``SETUP_PROBES`` throw-away processes
    start theirs, so all set-ups share one condition and cost one set-up of
    wall time. Returns the session, its timings and every probe's."""
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-probe"]
    probes = [subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
              for _ in range(SETUP_PROBES)]
    spark = None
    try:
        spark, own = start_session()
        timings = []
        for p in probes:
            out, _ = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"set-up probe exited with {p.returncode}")
            timings.append(json.loads(out.decode().strip().splitlines()[-1]))
    except BaseException:
        for p in probes:
            p.kill()
            p.wait()
        if spark is not None:
            stop_session(spark)
        raise
    return spark, own, timings


# --------------------------------------------------------------------------
# Workloads. ``run_op`` does the timed work of one operation inside spans and
# returns a check to run after the timer stops (or None).
# --------------------------------------------------------------------------

class ZipIngest:
    ops = ["convert", "convert_single", "list"]

    def __init__(self, seed: int):
        self.glob, self.jumbo, manifest = corpus.cached_corpus(
            os.path.join(WORK, "cache"), seed)
        self.all_inputs = [self.glob, self.jumbo]
        regular = [m for m in manifest if m[0] != corpus.JUMBO]
        self.expect_regular = corpus.member_multiset(regular)
        self.info = corpus.manifest_summary(manifest)
        self.convert_info = corpus.manifest_summary(regular)
        self.out_root = os.path.join(WORK, "out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)
        self.stats: dict[int, dict] = {}

    def start(self, spark) -> None:
        from zip_to_parquet_spark.sinks import write_parquet, write_single_parquet_file
        from zip_to_parquet_spark.sources.zipsource import count_members, read_zip_members

        self.spark = spark
        self.read, self.count = read_zip_members, count_members
        self.write, self.write_single = write_parquet, write_single_parquet_file

    def run_op(self, op: str, tr: spans.Tracer, pid: int, cold: bool):
        out = os.path.join(self.out_root, f"p{pid}-{op}")
        if op == "list":
            with tr.span("sources.count_members", pid):
                n = self.count(self.spark, self.all_inputs)
            want = self.info["members"]
            return lambda: [] if n == want else [f"list counted {n} members, manifest has {want}"]
        with tr.span("sources.read_zip_members", pid):
            df = self.read(self.spark, self.glob)
        if op == "convert":
            with tr.span("sinks.write_parquet", pid):
                self.write(df, out)
            return lambda: self._check_convert(pid, out)
        with tr.span("sinks.write_single_parquet_file", pid):
            self.write_single(df, out, row_group_rows=ROW_GROUP_ROWS)
        return lambda: self._check_single(pid, out)

    def traced_extras(self, tr: spans.Tracer, pid: int) -> None:
        """A noop scan of the writes' input, to split source from sink time."""
        df = self.read(self.spark, self.glob)
        with tr.span("sources.scan", pid):
            df.write.format("noop").mode("overwrite").save()

    def _members(self, table) -> tuple[list, int]:
        cols = [table.column(c).to_pylist() for c in ("source", "name", "body", "hash")]
        rows, bad = [], 0
        for s, n, b, h in zip(*cols):
            d = hashlib.sha256(b).hexdigest()
            bad += d != h
            rows.append((s, n, len(b), d))
        return rows, bad

    def _check_convert(self, pid: int, out: str) -> list[str]:
        import pyarrow.parquet as pq

        try:
            files = [f for f in os.listdir(out) if f.endswith(".parquet")]
            st = self.stats.setdefault(pid, {})
            st["out_files"] = len(files)
            st["out_bytes"] = sum(os.path.getsize(os.path.join(out, f)) for f in files)
            rows, bad = self._members(pq.read_table(out))
            problems = corpus.check_members(self.expect_regular, rows)
            if bad:
                problems.append(f"convert: {bad} rows whose hash is not sha256(body)")
            return problems
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _check_single(self, pid: int, out: str) -> list[str]:
        import pyarrow.parquet as pq

        try:
            pf = pq.ParquetFile(out)
            md = pf.metadata
            self.stats.setdefault(pid, {})["row_groups"] = md.num_row_groups
            big = [md.row_group(i).num_rows for i in range(md.num_row_groups)
                   if md.row_group(i).num_rows > ROW_GROUP_ROWS]
            rows, bad = self._members(pf.read())
            problems = corpus.check_members(self.expect_regular, rows)
            if big:
                problems.append(f"convert_single: {len(big)} row groups over {ROW_GROUP_ROWS} rows")
            if bad:
                problems.append(f"convert_single: {bad} rows whose hash is not sha256(body)")
            return problems
        finally:
            if os.path.exists(out):
                os.remove(out)


class QueryMix:
    ops = QUERY_KEYS

    def __init__(self, seed: int):
        self.stats: dict = {}  # no writes and no corpus: the zip metrics read 0
        self.convert_info: dict = {}
        self.tables = tables.cached_tables(os.path.join(WORK, "cache"))
        with open(os.path.join(HERE, "expected.json")) as fh:
            exp = json.load(fh)
        self.expected = exp["keys"] if exp.get("tables") == tables_tag() else {}
        self.info = {"tables": tables_tag()}

    def start(self, spark) -> None:
        from zip_to_parquet_spark.plans import all_queries

        self.spark = spark
        queries = all_queries()
        self.fns = {k: queries[k] for k in QUERY_KEYS}

    def run_op(self, key: str, tr: spans.Tracer, pid: int, cold: bool):
        with tr.span("plans.build", pid, key=key):
            df = self.fns[key](self.spark, self.tables)
        with tr.span("plans.exec", pid, key=key):
            if not cold:
                df.write.format("noop").mode("overwrite").save()
                return None
            rows = df.collect()
        cols = df.columns
        return lambda: self._check(key, cols, rows)

    def traced_extras(self, tr, pid) -> None:
        pass

    def _check(self, key: str, cols: list[str], rows: list) -> list[str]:
        want = self.expected.get(key)
        if want is None:
            return [f"{key}: no expected digest recorded for tables {tables_tag()}"]
        got = digest(cols, [tuple(r) for r in rows])
        return [] if got == want else [f"{key}: result digest {got[:12]} != expected {want[:12]}"]


def tables_tag() -> str:
    return f"v{tables.GENERATOR_VERSION}-sf{tables.SF}"


# --------------------------------------------------------------------------
# Passes and metrics
# --------------------------------------------------------------------------

class Run:
    def __init__(self, wl, spark, tracer: spans.Tracer, seed: int):
        self.wl, self.spark, self.tr = wl, spark, tracer
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.passes: list[dict] = []  # {"id", "traced", "lat": {op: s}}
        self.worker_rss = 0.0
        self.jvm = jvm_pid()
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.ref_s: dict[int, list[float]] = {}  # pass id -> reference samples

    def one_pass(self, pid: int, cold: bool, traced: bool) -> None:
        sc = self.spark.sparkContext
        self.tr.counting = traced
        lat = {}
        # The cold pass keeps one order: whichever operation runs first pays
        # the JVM's warm-up, and that share differs from one to another.
        order = self.wl.ops if cold else self.rng.sample(self.wl.ops, len(self.wl.ops))
        for op in order:
            sc.setJobGroup(f"p{pid}:{op}", op)
            self.attempted += 1
            problems, check = [], None
            with self.tr.span(op, pid, kind="op") as sp:
                try:
                    check = self.wl.run_op(op, self.tr, pid, cold)
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    problems = [f"{op}: {type(exc).__name__}: {exc}"]
            lat[op] = spans.duration(sp)
            if check is not None:
                try:
                    problems += check()
                except Exception as exc:  # noqa: BLE001 — an unreadable output fails
                    problems.append(f"{op} check: {type(exc).__name__}: {exc}")
            if problems:
                self.failed += 1
                for p in problems:
                    log(f"FAILED pass {pid}: {p}")
            # Sampled after every warm operation, so the samples see the
            # machine as the operations did; at least REF_SAMPLES per pass.
            for _ in range(0 if cold else -(-REF_SAMPLES // len(self.wl.ops))):
                self.ref_s.setdefault(pid, []).append(
                    calib.reference_seconds(self.spark, self.cores))
            if traced:
                t0 = time.perf_counter()
                for w in descendants(self.jvm):
                    self.worker_rss = max(self.worker_rss, vm_hwm_mib(w))
                self.tr.overhead_s[pid] = self.tr.overhead_s.get(pid, 0.0) + (
                    time.perf_counter() - t0)
        if traced:
            sc.setJobGroup(f"p{pid}:extras", "traced extras")
            self.wl.traced_extras(self.tr, pid)
        self.tr.counting = False
        self.passes.append({"id": pid, "traced": traced, "lat": lat})
        log(f"pass {pid}{' cold' if cold else ''}{' traced' if traced else ''}: "
            f"{sum(lat.values()):.3f} s " + json.dumps({k: round(v, 3) for k, v in lat.items()}))

    def passes_until(self, seconds: float, trace: bool, t_process: float) -> None:
        """Cold pass, then warm passes (at least one) until ``seconds`` have
        passed. In a traced run every second warm pass is traced."""
        self.one_pass(0, cold=True, traced=False)
        calib.reference_seconds(self.spark, self.cores)  # its own first run is slow
        t0 = time.perf_counter()
        pid = 1
        while True:
            self.one_pass(pid, cold=False, traced=trace and pid % 2 == 0)
            if (not trace or pid % 2 == 0) and (
                    time.perf_counter() - t0 >= seconds
                    or time.perf_counter() - t_process > DEADLINE_S):
                break
            pid += 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, setup_s: float) -> tuple[dict, dict, dict]:
    """Declared metrics, per-operation medians, and raw seconds (the cold
    pass, and the warm times and reference behind the ``_rel`` metrics)."""
    warm = [p for p in run.passes if p["id"] > 0 and not p["traced"]]
    per_op = {op: _median([p["lat"][op] for p in warm]) for op in run.wl.ops}
    raw = {
        "cold_pass_s": sum(run.passes[0]["lat"].values()),
        "pass_s": _median([sum(p["lat"].values()) for p in warm]),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_op.values())),
        "ref_s": _median([x for p in warm for x in run.ref_s[p["id"]]]),
    }
    declared = {
        "setup_s": (setup_s, "s"),
        "pass_rel": (raw["pass_s"] / raw["ref_s"], "ref"),
        "query_geomean_rel": (raw["query_geomean_s"] / raw["ref_s"], "ref"),
    }
    return declared, per_op, {k: (v, "s") for k, v in raw.items()}


def per_layer(run: Run, setup: dict) -> dict:
    sp = run.tr.spans
    traced = [p["id"] for p in run.passes if p["traced"]]

    def in_pass(name, pid, **attrs):
        return [s for s in sp if s["name"] == name and s["pass"] == pid
                and all(s.get(k) == v for k, v in attrs.items())]

    def per_pass(fn):
        return _median([fn(pid) for pid in traced])

    def total(name, field="dur", **attrs):
        def f(pid):
            hits = in_pass(name, pid, **attrs)
            return sum(spans.duration(s) if field == "dur" else s[field] for s in hits)
        return f

    def stat(key):
        return lambda pid: run.wl.stats.get(pid, {}).get(key, 0)

    info = run.wl.convert_info
    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "runtime.ensure_shipped_s": (setup["ensure_shipped_s"], "s"),
        "sources.read_zip_members_s": (per_pass(total("sources.read_zip_members")), "s"),
        "sources.scan_s": (per_pass(total("sources.scan")), "s"),
        "sources.count_members_s": (per_pass(total("sources.count_members")), "s"),
        "sources.partitions": (per_pass(total("sources.scan", "tasks")), "count"),
        "sources.tasks": (per_pass(lambda pid: sum(
            s["tasks"] for s in sp if s["pass"] == pid and s.get("kind") == "op"
            and s["name"] in ZipIngest.ops)), "count"),
        "sources.members": (info.get("members", 0), "count"),
        "sources.body_bytes": (info.get("body_bytes", 0), "bytes"),
        "sources.worker_peak_rss_mb": (run.worker_rss, "MiB"),
        "sinks.write_parquet_s": (per_pass(total("sinks.write_parquet")), "s"),
        "sinks.write_single_parquet_file_s": (
            per_pass(total("sinks.write_single_parquet_file")), "s"),
        "sinks.write_parquet_self_s": (per_pass(
            lambda pid: total("sinks.write_parquet")(pid)
            - total("sources.scan")(pid)), "s"),
        "sinks.single_file_self_s": (per_pass(
            lambda pid: total("sinks.write_single_parquet_file")(pid)
            - total("sources.scan")(pid)), "s"),
        "sinks.out_bytes": (per_pass(stat("out_bytes")), "bytes"),
        "sinks.out_files": (per_pass(stat("out_files")), "count"),
        "sinks.row_groups": (per_pass(stat("row_groups")), "count"),
    }
    build_jobs = sum(s["jobs"] for s in sp if s["name"] == "plans.build" and s["pass"] in traced)
    plan_jobs = build_jobs + sum(
        s["jobs"] for s in sp if s["name"] == "plans.exec" and s["pass"] in traced)
    m["plans.build_job_share"] = (build_jobs / plan_jobs if plan_jobs else 0.0, "ratio")
    m["plans.tasks"] = (per_pass(lambda pid: sum(
        s["tasks"] for s in in_pass("plans.build", pid) + in_pass("plans.exec", pid))), "count")
    m["plans.failed_tasks"] = (sum(
        s["failed_tasks"] for s in sp if s.get("kind") == "op" and s["pass"] in traced), "count")
    for k in QUERY_KEYS:
        m[f"plans.{k}.build_s"] = (per_pass(total("plans.build", key=k)), "s")
        m[f"plans.{k}.exec_s"] = (per_pass(total("plans.exec", key=k)), "s")
        m[f"plans.{k}.jobs"] = (per_pass(lambda pid, k=k: sum(
            s["jobs"] for s in in_pass(k, pid, kind="op"))), "count")
        m[f"plans.{k}.stages"] = (per_pass(lambda pid, k=k: sum(
            s["stages"] for s in in_pass(k, pid, kind="op"))), "count")
    m["trace.pass_s"] = (per_pass(lambda pid: sum(run.passes[pid]["lat"].values())), "s")
    m["trace.overhead_s"] = (per_pass(lambda pid: run.tr.overhead_s.get(pid, 0.0)), "s")
    return m


def summary(name: str, e2e: dict, raw: dict, per_op: dict, wl, failed: int, attempted: int,
            load: float, gen_s: float, setups: list[float], jvm_rss: float) -> None:
    """Every end-to-end number by name and unit, including those left out of
    BENCHMARK.json (one workload only, or too unsteady to bound), on one
    human-readable line."""
    extra = {"fail_ratio": (failed / attempted, "ratio"), "jvm_peak_rss_mb": (jvm_rss, "MiB"),
             "load_1m_at_start": (load, ""), "gen_s": (gen_s, "s"),
             "setup_samples_s": (setups, "s")}
    if name == "zip_ingest":
        bb = wl.convert_info["body_bytes"]
        out_bytes = _median([s.get("out_bytes", 0) for s in wl.stats.values()])
        extra.update({
            "convert_mb_s": (bb / per_op["convert"] / 1e6, "MB/s"),
            "convert_single_mb_s": (bb / per_op["convert_single"] / 1e6, "MB/s"),
            "list_members_s": (wl.info["members"] / per_op["list"], "1/s"),
            "out_bytes_per_in_byte": (out_bytes / bb, "ratio"),
        })
    parts = [f"{k}={v!r} {u}".rstrip() for k, (v, u) in {**e2e, **raw, **extra}.items()]
    print(f"perfbench {name}: " + ", ".join(parts))
    print("perfbench per-op median s: " + json.dumps(per_op))


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_probe:
        return setup_probe()
    if args.workload is None:
        ap.error("--workload is required")
    args.seed %= 2**32  # numpy's generators take only non-negative seeds
    if not os.path.isfile(os.path.join(ROOT, "zip_to_parquet_spark", "__init__.py")):
        log(f"engine package zip_to_parquet_spark not found under {ROOT}")
        return 2
    leftover = spark_jvms()
    if leftover and not _wait_gone(leftover, 15):
        log(f"a Spark JVM from an earlier run is still alive (pids {leftover}); "
            "stop it first, it would skew every timing")
        return 3
    load = os.getloadavg()[0]
    log(f"load average at start: {load:.2f}")
    configure_env()

    t = time.perf_counter()
    wl = ZipIngest(args.seed) if args.workload == "zip_ingest" else QueryMix(args.seed)
    gen_s = time.perf_counter() - t
    log(f"inputs ready in {gen_s:.2f} s: {wl.info}")

    spark, setup, probes = concurrent_setups()
    log(f"sessions ready at {time.perf_counter() - t_process:.1f} s")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        samples = [p["setup_s"] for p in probes] + [setup["setup_s"]]
        med = {k: statistics.median([p[k] for p in probes] + [setup[k]]) for k in setup}
        wl.start(spark)
        jobs = spans.JobCounter(spark.sparkContext) if args.trace else None
        run = Run(wl, spark, spans.Tracer(jobs), args.seed)
        run.passes_until(args.seconds, bool(args.trace), t_process)
        e2e, per_op, raw = end_to_end(run, med["setup_s"])
        jvm_rss = vm_hwm_mib(run.jvm)
        layers = per_layer(run, med) if args.trace else None
    finally:
        log(f"passes done at {time.perf_counter() - t_process:.1f} s")
        stop_session(spark)
        log(f"session stopped at {time.perf_counter() - t_process:.1f} s")

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    run.tr.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-t{args.trace}.json"))
    metrics = layers if args.trace else e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != declared:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ declared)}")
    summary(args.workload, e2e, raw, per_op, wl, run.failed, run.attempted, load, gen_s,
            samples, jvm_rss)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
