"""Stage-level profiler for headline queries (optimization round 17).

Guide §1 empirical loop without a browser: run one query under the
bench's consume() action in the bench's own session (``get_spark``),
tag every trial with a job group, then read per-stage metrics (wall,
task time, shuffle read/write, input bytes, spill) for the fastest
trial's jobs from the in-process status store and print them sorted by
stage wall. This attributes a query's wall to scan / exchange / window
/ UDF stages the same way the Spark UI's stage table would, with the UI
off.

Usage:
    python tools/opt_profile.py QUERY [QUERY ...] [--sf DIR] [--trials N]

Profiling-only tool: bench.py remains the driver contract.
"""

from __future__ import annotations

import argparse
import gc
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _ms(opt_date) -> float | None:
    """A status-store ``Option[Date]`` as epoch ms (None when unset)."""
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def stage_rows(sc, group: str) -> list[dict]:
    """One row per stage executed by the jobs of ``group``; stages
    skipped because their shuffle output already existed are left
    out."""
    from py4j.protocol import Py4JJavaError

    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    rows, seen = [], set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted
                continue
            # a shuffle stage shared by two jobs of the group counts once
            if sid in seen or s.status().toString() != "COMPLETE":
                continue
            seen.add(sid)
            start = _ms(s.firstTaskLaunchedTime()) or _ms(s.submissionTime())
            end = _ms(s.completionTime())
            rows.append(
                {
                    "stage": s.stageId(),
                    "name": s.name().split("\n")[0][:80],
                    "tasks": s.numCompleteTasks(),
                    "wall_ms": int(end - start) if start and end else 0,
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": int(s.executorCpuTime() / 1e6),
                    "in_mb": round(s.inputBytes() / 1e6, 2),
                    "sh_r_mb": round(s.shuffleReadBytes() / 1e6, 2),
                    "sh_w_mb": round(s.shuffleWriteBytes() / 1e6, 2),
                    "fetch_ms": s.shuffleFetchWaitTime(),
                    "spill_mb": round(s.memoryBytesSpilled() / 1e6, 2),
                }
            )
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--trials", type=int, default=3)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from graphkb_spark.core.actions import consume
    from graphkb_spark.session import get_spark

    spark = get_spark("opt_profile")
    sc = spark.sparkContext
    queries = entrymod.queries()
    consume(queries["pricing_summary"](spark, args.sf))  # JVM warm

    for name in args.queries:
        fn = queries[name]
        spark.catalog.clearCache()
        sc.setJobGroup(f"{name}: warmup", f"{name}: warmup")
        consume(fn(spark, args.sf))
        best = float("inf")
        best_group = None
        for t in range(args.trials):
            spark.catalog.clearCache()
            gc.collect()
            try:
                sc._jvm.System.gc()
            except Exception:
                pass
            group = f"{name}: trial{t}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            consume(fn(spark, args.sf))
            dt = time.time() - t0
            if dt < best:
                best, best_group = dt, group

        rows = stage_rows(sc, best_group)
        rows.sort(key=lambda r: -r["wall_ms"])
        print(f"\n=== {name}: best wall {best:.3f}s over {args.trials} trials "
              f"({len(rows)} stages in timed window) ===")
        total_wall = sum(r["wall_ms"] for r in rows)
        total_run = sum(r["run_ms"] for r in rows)
        print(f"    sum of stage walls {total_wall} ms; total executor run {total_run} ms")
        for r in rows[:30]:
            print(
                f"  s{r['stage']:>5} wall={r['wall_ms']:>6}ms run={r['run_ms']:>7}ms "
                f"cpu={r['cpu_ms']:>7}ms tasks={r['tasks']:>3} in={r['in_mb']:>7} "
                f"shR={r['sh_r_mb']:>7} shW={r['sh_w_mb']:>7} fw={r['fetch_ms']:>4}ms "
                f"sp={r['spill_mb']:>5} | {r['name']}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
