#!/usr/bin/env python
"""Registry-wide plan-pathology audit (r14 extension of the 15-key sweep).

The r14 optimization round's duplicate-eval sweep covered the headline +
heavy + ANN/dedup/text keys and found two structural pathologies
(`ann_ivf_topk`'s duplicated assign UDF, `ann_lsh_topk`'s 4x signature
subtree). This script widens the same checks to EVERY registered query so
nothing outside the bench set hides a scale-killer:

* BatchEvalPython nodes        (row-at-a-time Python — should be zero)
* duplicated Python eval nodes (same UDF name evaluated >1x in one plan,
                                guide §4.4's duplication pathology)
* CartesianProduct / BroadcastNestedLoopJoin (soft [review] flag: every
  crossJoin site in the package was hand-audited in r13 and re-audited
  r14 — all are `.crossJoin(F.broadcast(<1-row aggregate or <=5-row
  literal>))` scalar-total joins, safe at any scale; the flag exists so
  a FUTURE unbounded cross join surfaces for review)
* SortMergeJoin                (soft [review]: should be deliberate;
                                the known hits join bounded eval-tail
                                relations, plan-locked in tests/)
* Exchange count               (informational; flags the top shufflers)

Node counts come from the details section of `explain("formatted")`
(lines `^(N) NodeName`) so each physical node is counted exactly once
(the tree section repeats every node name).

Plans are built at sf0.001 (plan SHAPE, not timing; eager localCheckpoints
execute at build time, which is cheap at this scale). Output: one TSV line
per key to stdout plus a FLAGS section; exit 1 if a hard pathology
(BatchEvalPython, duplicated UDF, or a build error) appears outside the
whitelist below.

Usage: python scripts/audit_plans_registry.py [key ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import _harness  # noqa: E402

# Hand-reviewed acceptable hits: (key, pathology) pairs.
# SMJ on bounded eval-tail relations is fine (plan-locked elsewhere).
WHITELIST: set[tuple[str, str]] = set()

UDF_NAME = re.compile(r"(?:ArrowEvalPython|BatchEvalPython) \[([a-zA-Z_0-9]+)\(")
NODE_LINE = re.compile(r"^\(\d+\) ([A-Za-z]+)", re.MULTILINE)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = _harness.bench_session("z2ps-audit-plans-registry")

    from zip_to_parquet_spark.plans import all_queries

    qs = all_queries()
    names = sys.argv[1:] or sorted(qs)

    flags: list[str] = []
    errors: list[str] = []
    print("key\tBEP\tAEP\tMIP\tSMJ\tCART\tEXCH\tdup_udfs")
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            errors.append(f"{name}: {type(e).__name__}: {e}")
            print(f"{name}\tERROR")
            continue
        nodes = Counter(NODE_LINE.findall(plan))
        bep = nodes["BatchEvalPython"]
        aep = nodes["ArrowEvalPython"]
        mip = (
            nodes["MapInPandas"] + nodes["MapInArrow"] + nodes["FlatMapGroupsInPandas"]
        )
        smj = nodes["SortMergeJoin"]
        cart = nodes["CartesianProduct"] + nodes["BroadcastNestedLoopJoin"]
        exch = nodes["Exchange"]
        dup = {
            fn: c for fn, c in Counter(UDF_NAME.findall(plan)).items() if c > 1
        }
        print(
            f"{name}\t{bep}\t{aep}\t{mip}\t{smj}\t{cart}\t{exch}\t"
            f"{dup if dup else ''}"
        )
        if bep and (name, "BEP") not in WHITELIST:
            flags.append(f"{name}: {bep} BatchEvalPython (row-at-a-time Python)")
        if cart and (name, "CART") not in WHITELIST:
            flags.append(f"{name}: {cart} cartesian/BNLJ nodes [review]")
        if dup and (name, "DUP") not in WHITELIST:
            flags.append(f"{name}: duplicated Python eval {dup}")
        if smj and (name, "SMJ") not in WHITELIST:
            flags.append(f"{name}: {smj} SortMergeJoin [review]")

    print("\n== FLAGS ==")
    for f in flags:
        print(f)
    print(f"\n== ERRORS ({len(errors)}) ==")
    for e in errors:
        print(e)
    hard = [f for f in flags if "[review]" not in f]
    return 1 if hard or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
