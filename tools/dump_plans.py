"""Dump .explain('formatted') for headline queries to plans/<round>/.

Usage:
    python tools/dump_plans.py TAG [--round rNN] [--nockpt] [QUERY ...]

TAG is 'before' or 'after' (any label works). With no queries listed,
dumps every bench.py HEADLINE query. Output:
plans/<round>/<query>_<TAG>.txt — the optimization-round evidence
files referenced by OPTIMIZATION_rNN.md. Default round: r18.

``--nockpt`` dumps the plan with materialize() short-circuited to a
no-op (session conf ``spark.graphkb.checkpoint.mode=none``): the
checkpoint boundary normally truncates the formatted plan at
``Scan ExistingRDD``, hiding everything upstream of the first
localCheckpoint (VERDICT r17 evidence gap #5). Plan-dump only — the
query is never executed here, so the exploding-lineage concern that
makes 'none' unusable for running iterative operators does not apply.
The file is suffixed ``_<TAG>_full.txt`` so the executed-shape dump
stays separate.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from bench import HEADLINE
from graphkb_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Dump formatted physical plans to plans/<round>/."
    )
    ap.add_argument("tag", metavar="TAG", help="file label, e.g. before/after")
    ap.add_argument("queries", nargs="*", metavar="QUERY",
                    help="queries() names (default: every bench.py HEADLINE query)")
    ap.add_argument("--round", default="r18", help="output subdirectory (default r18)")
    ap.add_argument("--nockpt", action="store_true",
                    help="short-circuit materialize() to show the full lineage")
    args = ap.parse_intermixed_args()
    names = args.queries or HEADLINE
    sf_dir = "/root/testdata/sf0.1"
    out_dir = Path(__file__).resolve().parent.parent / "plans" / args.round
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump_plans")
    if args.nockpt:
        spark.conf.set("spark.graphkb.checkpoint.mode", "none")
    queries = entrymod.queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        suffix = f"{name}_{args.tag}_full.txt" if args.nockpt else f"{name}_{args.tag}.txt"
        (out_dir / suffix).write_text(plan)
        print(f"wrote {name} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
