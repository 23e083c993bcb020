#!/usr/bin/env python3
"""Physical-plan audit: the reproducible evidence behind SCALE.md.

For each battery query (default: the list below), prints the plan
markers that matter at 100 TB:

- PushedFilters      — predicates reached the parquet scan
- BroadcastHashJoin  — dimension joins broadcast (no shuffle)
- SortMergeJoin      — a shuffle join survived where broadcast was expected
- NestedLoop         — a range/cross predicate fell back to O(|L|*|R|)
- WindowGroupLimit / TakeOrderedAndProject — top-k never globally sorts
- Exchange count     — total shuffles in the plan
- pyeval             — Python-worker nodes (ArrowEvalPython, BatchEvalPython,
                       MapInPandas, FlatMapGroupsInPandas and their Arrow /
                       cogroup / aggregate / window siblings): 0 means the
                       entry's plan starts no Python worker outside its scans

``--out DIR SUFFIX`` also writes each plan, ``explain("formatted")``, to
``DIR/<query>_<SUFFIX>.txt``: the plan evidence of an optimization
(plans/r13/<q>_before.txt / _after.txt).

Usage: python3 scripts/plan_audit.py sf_dir [query ...] [--out DIR SUFFIX]
"""

from __future__ import annotations

import argparse
import re
from pathlib import Path

import harness

DEFAULT = [
    "rel_pricing_summary",
    "rel_regional_revenue",
    "rel_shipping_priority",
    "rel_window_topn",
    "rel_range_join",
    "rel_salted_join",
    "doc_top_terms",
    "doc_pack_sequences",
    "doc_chunk_windows",
    "emb_quantize_mse",
    "emb_label_centroids",
    "rel_funnel_steps",
    "rel_retention_cohorts",
    "eth_erc20_movement",
]

# node headers of the formatted plan's detail section: "(7) MapInPandas"
PYEVAL = re.compile(
    r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython|ArrowAggregatePython|"
    r"ArrowWindowPython|MapIn(?:Pandas|Arrow)|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow))",
    re.M,
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", nargs=2, metavar=("DIR", "SUFFIX"))
    args = ap.parse_args()
    if args.out:
        Path(args.out[0]).mkdir(parents=True, exist_ok=True)

    spark = harness.session()
    from presto_ethereum_spark.plans import battery

    qs = battery.queries()
    print(f"{'query':30s} {'pushed':6s} {'bhj':4s} {'smj':4s} {'nlj':4s} "
          f"{'topk':5s} {'exch':4s} {'pyeval':6s}")
    for name in args.queries or DEFAULT:
        p = harness.plan_text(qs[name](spark, args.sf_dir))
        if args.out:
            Path(args.out[0], f"{name}_{args.out[1]}.txt").write_text(p)
        pushed = "PushedFilters: [" in p and "PushedFilters: []" not in p
        topk = ("WindowGroupLimit" in p) or ("TakeOrderedAndProject" in p)
        print(
            f"{name:30s} {str(pushed):6s} {str('BroadcastHashJoin' in p):4s} "
            f"{str('SortMergeJoin' in p):4s} {str('NestedLoop' in p):4s} "
            f"{str(topk):5s} {p.count('Exchange'):4d} {len(PYEVAL.findall(p)):6d}"
        )


if __name__ == "__main__":
    main()
