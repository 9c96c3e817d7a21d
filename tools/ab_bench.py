"""A/B bisect harness for bench regressions: run an explicit query
list under bench.py's exact protocol (session warm-up, per-query
untimed warm-up, best-of-3 with pre-trial GC) against ANY checkout of
this repo — e.g. a `git worktree` of an earlier round — and emit one
JSON file per run.

The point (VERDICT r9 #2): single-process bench totals on this box
swing far more between PROCESS INVOCATIONS than any plausible code
delta (measured r10: identical round-8 code ran the same 13-query
list at 23.2 / 19.7 / 18.6 s across three invocations; the
pricing_summary control spanned 0.25-0.84 s). Comparing one round's
recorded total against another round's therefore measures host epochs,
not commits. The honest comparator is INTERLEAVED runs of both trees
in one session, min per query across runs:

  git worktree add /tmp/r8tree <round-8-sha>
  for i in 1 2 3; do
    python tools/ab_bench.py /tmp/r8tree /tmp/a_$i.json q1 q2 ...
    python tools/ab_bench.py .          /tmp/b_$i.json q1 q2 ...
  done

then compare per-query minima. Findings for round 10 are recorded in
docs/FLOORS.md ("Round-9 +31% adjudication — measured, not argued").
"""

import gc
import json
import os
import sys
import time


def consume(df) -> int:
    """Full-evaluation action (self-contained copy of
    graphkb_spark/core/actions.py:consume — this tool drives OTHER
    checkouts of the repo, which may predate that module). A bare
    count() lets Catalyst prune final projections and eliminate
    trailing unique-key left joins, so it measures a harness floor on
    fill-in shaped queries; hashing every output column makes the
    whole plan load-bearing. Needs pyspark >= 3.5 (bit_xor) — every
    checkout this tool drives runs the container's single baked-in
    pyspark, so that is an environment constant, not a per-tree
    variable."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def contains_map(dt) -> bool:
        # structural, not a substring test on simpleString(): a struct
        # field named 'mapping' must not detour through to_json
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return contains_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(contains_map(f.dataType) for f in dt.fields)
        return False

    if not df.schema.fields:
        # zero-column frame: nothing to prune AND xxhash64() with no
        # args raises — count() is the full plan here
        return df.count()
    cols = [
        F.xxhash64(F.to_json(F.col(f.name)))
        if contains_map(f.dataType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]["n"]


def main() -> None:
    root = os.path.abspath(sys.argv[1])
    # resolved before the chdir below, and checked before any query runs
    out = os.path.abspath(sys.argv[2])
    if not os.path.isdir(os.path.dirname(out)):
        sys.exit(f"ab_bench: output directory {os.path.dirname(out)} does not exist")
    names = sys.argv[3:]
    sys.path.insert(0, root)
    os.chdir(root)

    import __spark_entry__ as entrymod
    from graphkb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_bench")
    queries = entrymod.queries()
    consume(queries["pricing_summary"](spark, sf_dir))

    per = {}
    for name in names:
        fn = queries[name]
        best = float("inf")
        spark.catalog.clearCache()
        consume(fn(spark, sf_dir))
        for _ in range(3):
            spark.catalog.clearCache()
            df = None
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            t0 = time.time()
            df = fn(spark, sf_dir)
            consume(df)
            best = min(best, time.time() - t0)
        per[name] = round(best, 3)
        df = None
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    with open(out, "w") as f:
        json.dump({"total": round(sum(per.values()), 3), "queries": per}, f)
    print(json.dumps(per))
    spark.stop()


if __name__ == "__main__":
    main()
