"""Every registered query with an oracle must match DuckDB at sf0.001.

This mirrors the driver's t2 correctness gate (which runs at sf0.01); run
``SPARK_GRAFT_SF_DIR_TEST=/root/testdata/sf0.01 pytest`` for the full-size
check. Queries without an oracle get a rows-run smoke check instead.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict
from pathlib import Path

import pytest

from tests.parity import TABLES, compare, duck_connect
from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# Computed oracles (ann_ivf_trained) train against the sf dir under test;
# the driver leaves this unset and gets its contract default (sf0.01).
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

QUERIES = all_queries()
ORACLES = all_oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    compare(spark, SF_DIR, QUERIES[name], ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0  # runs without error, stable schema
    assert df.columns


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


# Keys that share an oracle on purpose: each pair runs one aggregation on
# the batch engine and on Structured Streaming.
BATCH_STREAM_PAIRS = {
    ("events_ohlc_bars", "stream_ohlc_bars"),
    ("events_pattern_strict_funnel", "stream_pattern_strict_funnel"),
    ("events_tumbling_window", "stream_tumbling_window"),
}


def test_only_batch_stream_pairs_share_an_oracle():
    # Two keys with one oracle are one semantics run twice; outside the
    # batch/stream pairs that is a twin implementation to delete.
    groups = defaultdict(list)
    for name, sql in ORACLES.items():
        groups[" ".join(sql.split())].append(name)
    shared = {tuple(sorted(g)) for g in groups.values() if len(g) > 1}
    assert shared == BATCH_STREAM_PAIRS


# The code side of the same rule: two functions that share this many
# consecutive code lines hold one copied stage, which belongs in one
# function that both call.
COPIED_RUN = 12
PKG_DIR = Path(__file__).resolve().parents[1] / "zip_to_parquet_spark"


def _package_functions() -> list[tuple[str, list[str], frozenset]]:
    """``(name, code lines, enclosing function names)`` for every function
    in the package, nested ones included. Code lines are stripped; the
    docstring, blank lines and comment lines are dropped."""
    funcs = []

    def walk(node, rel, src, outer):
        for ch in ast.iter_child_nodes(node):
            if not isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(ch, rel, src, outer)
                continue
            name = f"{rel}:{ch.lineno} {ch.name}"
            first = ch.body[0]
            doc = isinstance(first, ast.Expr) and isinstance(
                getattr(first.value, "value", None), str
            )
            skip = range(first.lineno, first.end_lineno + 1) if doc else ()
            lines = [
                src[n - 1].strip()
                for n in range(ch.lineno, ch.end_lineno + 1)
                if n not in skip
            ]
            code = [ln for ln in lines if ln and not ln.startswith("#")]
            funcs.append((name, code, outer))
            walk(ch, rel, src, outer | {name})

    for path in sorted(PKG_DIR.rglob("*.py")):
        text = path.read_text()
        rel = path.relative_to(PKG_DIR.parent)
        walk(ast.parse(text), rel, text.splitlines(), frozenset())
    return funcs


def test_no_two_functions_share_a_copied_stage():
    funcs = _package_functions()
    holders = defaultdict(set)
    for i, (_, code, _) in enumerate(funcs):
        for k in range(len(code) - COPIED_RUN + 1):
            holders[tuple(code[k : k + COPIED_RUN])].add(i)
    # A function is not compared with a function nested inside it.
    pairs = sorted(
        (funcs[i][0], funcs[j][0])
        for i, j in {
            (i, j) for ids in holders.values() for i in ids for j in ids if i < j
        }
        if funcs[i][0] not in funcs[j][2] and funcs[j][0] not in funcs[i][2]
    )
    assert not pairs, (
        f"{len(pairs)} function pairs share a run of >= {COPIED_RUN} code "
        "lines:\n" + "\n".join(f"  {a} <-> {b}" for a, b in pairs)
    )


# A parameter that every caller sets to one value is a setting nobody
# sets: that value belongs in the function as a literal, or in a module
# constant where several functions must agree on it.
REPO_DIR = PKG_DIR.parent
CALLER_FILES = [
    *sorted(PKG_DIR.rglob("*.py")),
    *(p for d in ("tests", "scripts", "perfbench")
      for p in sorted((REPO_DIR / d).rglob("*.py"))),
    REPO_DIR / "bench.py",
    REPO_DIR / "__spark_entry__.py",
]


def _is_constant(node) -> bool:
    """A literal (constant, signed number, tuple/list of literals) or an
    ALL_CAPS name."""
    if isinstance(node, ast.Constant):
        return True
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.USub, ast.UAdd)):
        return isinstance(node.operand, ast.Constant)
    if isinstance(node, (ast.Tuple, ast.List)):
        return all(_is_constant(e) for e in node.elts)
    return isinstance(node, ast.Name) and node.id.lstrip("_").isupper()


def _one_value_parameters() -> list[str]:
    """``file:line function(parameter=value)`` for each parameter of a
    package function that gets one value at every call site. A call
    site's value is its keyword argument, else its positional argument,
    else the default, as ``ast.unparse`` renders it (so quoting and digit
    separators are not a second value); a call through an import alias
    counts as a call of the imported name. A function counts only when its
    name is defined once in the package, it is no dunder and no
    ``@query``, takes no ``*args``/``**kwargs``, is called, is never
    referenced other than by a call, and no call unpacks ``*``/``**``."""
    defs, calls, refs = defaultdict(list), defaultdict(list), set()
    for path in CALLER_FILES:
        tree = ast.parse(path.read_text())
        in_pkg = path.is_relative_to(PKG_DIR)
        # A call through ``from m import f as g`` is a call of ``f``.
        alias = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        called = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                called.add(id(n.func))
                name = getattr(n.func, "id", getattr(n.func, "attr", None))
                calls[alias.get(name, name)].append((in_pkg, n))
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in called:
                refs.add(getattr(n, "id", getattr(n, "attr", None)))
            if in_pkg and isinstance(n, ast.ClassDef):
                for m in n.body:
                    m.is_method = True
            if in_pkg and isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[n.name].append((path.relative_to(REPO_DIR), n))

    found = []
    for name, [(rel, fn)] in ((k, v) for k, v in defs.items() if len(v) == 1):
        sites = calls.get(name, [])
        a = fn.args
        if (
            name.startswith("__") and name.endswith("__")
            or any(getattr(d, "id", getattr(getattr(d, "func", None), "id", None))
                   == "query" for d in fn.decorator_list)
            or a.vararg or a.kwarg or not sites or name in refs
            or any(isinstance(x, ast.Starred) for _, c in sites for x in c.args)
            or any(k.arg is None for _, c in sites for k in c.keywords)
        ):
            continue
        positional = a.posonlyargs + a.args
        if getattr(fn, "is_method", False) and not any(
            getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list
        ):
            positional = positional[1:]
        defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
        defaults.update(zip(a.kwonlyargs, a.kw_defaults))
        for i, par in enumerate(positional + a.kwonlyargs):
            texts, nodes = set(), []
            for _, c in sites:
                kw = {k.arg: k.value for k in c.keywords}
                if par.arg in kw:
                    node = kw[par.arg]
                elif i < len(positional) and i < len(c.args):
                    node = c.args[i]
                else:
                    node = defaults.get(par)
                texts.add(node and ast.unparse(node))
                nodes.append(node)
            if (
                len(texts) == 1 and None not in texts
                and any(in_pkg for in_pkg, _ in sites)
                and _is_constant(nodes[0])
            ):
                found.append(f"{rel}:{fn.lineno} {name}({par.arg}={texts.pop()})")
    return sorted(found)


def test_no_parameter_takes_one_value_everywhere():
    found = _one_value_parameters()
    assert not found, (
        f"{len(found)} parameters take one value at every call site; make "
        "each a literal or a module constant:\n"
        + "\n".join(f"  {f}" for f in found)
    )


def _planted(base: str, out, table: str, rows: list[dict]) -> str:
    """``base``'s tables in ``out``, with ``rows`` appended to ``table``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in TABLES:
        if t != table:
            os.symlink(f"{base}/{t}.parquet", out / f"{t}.parquet")
    tbl = pq.read_table(f"{base}/{table}.parquet")
    pq.write_table(
        pa.concat_tables([tbl, pa.Table.from_pylist(rows, schema=tbl.schema)]),
        out / f"{table}.parquet",
    )
    return str(out)


def _near_parallel(base: str) -> list[dict]:
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{base}/embeddings.parquet").to_pylist()
    top = max(r["vec_id"] for r in emb)
    v = [2 * x for x in emb[0]["embedding"]]
    v[0] += 0.05
    return [{"vec_id": top + 1, "embedding": v, "label": emb[0]["label"]}]


def _orderless_customer(base: str) -> list[dict]:
    import pyarrow.parquet as pq

    top = max(pq.read_table(f"{base}/customer.parquet", columns=["c_custkey"])
              .column("c_custkey").to_pylist())
    return [{"c_custkey": top + 1, "c_name": f"Customer#{top + 1:09d}",
             "c_nationkey": 0, "c_acctbal": 0.0, "c_mktsegment": "BUILDING"}]


# Keys whose fixture oracle row compares two empty sets: every fixture
# customer has orders, and no fixture embedding pair reaches cosine 0.95.
# Each runs again on the fixture plus one planted row that must come out.
PLANTED = {
    "join_anti": ("customer", _orderless_customer),
    "dedup_embedding_cosine": ("embeddings", _near_parallel),
}


@pytest.mark.parametrize("name", sorted(PLANTED))
def test_oracle_parity_planted(spark, tmp_path, name):
    table, rows = PLANTED[name]
    sf_dir = _planted(SF_DIR, tmp_path, table, rows(SF_DIR))
    con = duck_connect(sf_dir)
    [(n,)] = con.execute(f"SELECT count(*) FROM ({ORACLES[name]})").fetchall()
    con.close()
    assert n >= 1
    compare(spark, sf_dir, QUERIES[name], ORACLES[name])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
