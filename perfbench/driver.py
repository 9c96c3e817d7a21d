"""One perfbench run inside one Spark driver process (launched by run.py).

Sequence: ``SETUP_REPS`` set-ups (each restarts the SparkSession and
rebuilds the workload's state; the first also launches the JVM) ->
``WARM_PASSES`` untimed passes (the first verifies every op against
its reference) -> timed passes. Each op is timed as build (the call
that returns the DataFrame, including every job it runs eagerly) plus
action (one aggregate that counts and hashes every column of every
row). Between ops, outside the timed window, the previous op's proxies
are dropped and both heaps are collected. Every timed repeat must
return the (rows, hash) of the verified first run.

With ``--trace 1`` an odd number of timed passes (at least three) run,
alternating untraced / traced / untraced (traced = the layer tracer plus
per-op Spark counters), so a linear drift in JVM warm-up cancels out of
the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 5
WARM_PASSES = 1
# nominal seconds of one timed pass on a 4-core x86 box; the number of
# timed passes is ceil(seconds / nominal), fixed per --seconds so every
# run of a workload takes the same samples
NOMINAL_PASS_S = {"kb_sync": 7.0, "corpus_dedup": 4.0}


def action(df) -> tuple[int, int]:
    """``core.actions.consume``'s aggregate, returning the order-
    insensitive value hash it computes alongside the row count."""
    from pyspark.sql import functions as F

    from graphkb_spark.core import actions

    if not df.schema.fields:
        return df.count(), 0
    cols = [
        F.xxhash64(F.to_json(F.col(f.name)))
        if actions._contains_map(f.dataType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return row["n"], row["h"]


def clean(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    from graphkb_spark.session import get_spark

    import layers
    import workloads

    wl = workloads.WORKLOADS[a.workload](a.inputs, a.work)
    res: dict = {"errors": []}

    # -- set-up, SETUP_REPS times ----------------------------------------
    spark = None
    setup_s, start_s, load_s = [], [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench", cpus=a.cpus)
        start_s.append(time.perf_counter() - t0)
        load_s.append(wl.setup(spark)["kb.load_s"])
        setup_s.append(time.perf_counter() - t0)
    sc = spark.sparkContext
    ops = wl.ops(spark)
    # the reference data is long-lived: keep it out of every collection
    gc.collect()
    gc.freeze()

    # -- warm passes: the first verifies every op -------------------------
    first: dict[str, tuple[int, int]] = {}
    attempted = failed = 0
    t_warm = time.perf_counter()
    for p in range(WARM_PASSES):
        wl.before_pass()
        for op in ops:
            try:
                df = op.build()
                got = action(df)
                err = op.check(df.collect()) if p == 0 else None
            except Exception as e:  # an op that raises is a failed op
                got, err = None, f"raised {e!r}"[:2000]
            if p == 0:
                attempted += 1
                # an op that failed verification fails every timed
                # repeat too, not only this first run
                first[op.name] = None if err else got
                if err:
                    failed += 1
                    res["errors"].append(f"{op.name}: {err}")
            df = None
            clean(spark)
    res["warm_s"] = time.perf_counter() - t_warm
    t_timed = time.perf_counter()

    # -- timed passes -----------------------------------------------------
    n_pass = math.ceil(a.seconds / NOMINAL_PASS_S[a.workload])
    if a.trace:
        # an odd number of passes, traced on odd indices: the untraced
        # passes sit symmetrically around the traced ones
        n_pass = max(n_pass, 3) | 1
        tracer = layers.LayerTracer(sc)
    else:
        tracer = None
    counters: dict = {}
    seen_stages: set = set()
    pass_s, traced_pass_s, op_s = [], [], []
    per_op = {op.name: {"wall": [], "build": [], "action": [], "stats": []} for op in ops}
    for p in range(n_pass):
        traced = tracer is not None and p % 2 == 1
        if traced:
            tracer.install()
        wl.before_pass()
        total = 0.0
        for op in ops:
            attempted += 1
            tag = f"p{p}/{op.name}"
            if traced:
                tracer.begin(f"{tag}/build")
            t0 = time.perf_counter()
            try:
                df = op.build()
                t1 = time.perf_counter()
                if traced:
                    tracer.begin(f"{tag}/action")
                got = action(df)
            except Exception as e:
                t1, got = time.perf_counter(), f"raised {e!r}"[:2000]
            t2 = time.perf_counter()
            if got != first[op.name] or first[op.name] is None:
                failed += 1
                res["errors"].append(f"{tag}: (rows, hash) {got} != first run {first[op.name]}")
            total += t2 - t0
            op_s.append(t2 - t0)
            per_op[op.name]["wall"].append(t2 - t0)
            if traced:
                sc.setJobGroup("perfbench-untimed", "")
                rec = per_op[op.name]
                rec["build"].append(t1 - t0)
                rec["action"].append(t2 - t1)
                rec["stats"].append(dict(op.stats))
                layers.drain_listener_bus(sc)
                groups = sorted(g for g in tracer.groups if g.startswith(tag + "/"))
                counters[tag] = layers.spark_counters(sc, groups, seen_stages)
            df = None
            clean(spark)
        if traced:
            tracer.uninstall()
        (traced_pass_s if traced else pass_s).append(total)

    res["timed_s"] = time.perf_counter() - t_timed
    res.update(
        attempted=attempted,
        failed=failed,
        setup_s=statistics.median(setup_s),
        setup_reps=setup_s,
        session_start_s=statistics.median(start_s),
        kb_load_s=statistics.median(load_s),
        passes=len(pass_s),
        pass_s=statistics.median(pass_s),
        pass_samples=pass_s,
        op_p50_s=statistics.median(op_s),
        # the op-time tail: 4 in 5 timed ops end within it. Ops cost
        # about a second each, mostly per-job overhead, so a run holds
        # 10-16 op samples; a percentile with 10 samples beyond it
        # would need 21 or more
        op_p80_s=statistics.quantiles(op_s, n=5, method="inclusive")[-1],
        op_samples=len(op_s),
        ops_per_pass=len(ops),
        op_wall_s={name: rec["wall"] for name, rec in per_op.items()},
    )
    if tracer is not None:
        res["per_layer"] = per_layer(
            ops, per_op, counters, tracer, a.cpus, res,
            statistics.median(traced_pass_s), len(traced_pass_s),
        )
    spark.stop()
    with open(a.result, "w") as f:
        json.dump(res, f)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(ops, per_op, counters, tracer, cpus, res, traced_pass, n_traced):
    """Spark counters per op; layer times, bytes written and graph
    build jobs per pass; per-function dedup times as medians."""
    n_ops = len(ops) * n_traced
    tot = {}
    build_jobs = 0.0
    kb_io_out = 0.0
    graph_jobs = 0.0
    for groups in counters.values():
        for g, c in groups.items():
            for k, v in c.items():
                tot[k] = tot.get(k, 0.0) + v
            if "/build" in g:
                build_jobs += c["jobs"]
            if g.endswith("/kb_io"):
                kb_io_out += c["output_b"]
            if g.endswith("/operators.graph"):
                graph_jobs += c["jobs"]
    wall = sum(sum(r["build"]) + sum(r["action"]) for r in per_op.values())

    def layer_s(layer, fn=None):
        return sum(
            t for (l, f), t in tracer.time.items() if l == layer and fn in (None, f)
        ) / n_traced

    out = {
        "spark.jobs": tot.get("jobs", 0.0) / n_ops,
        "spark.stages": tot.get("stages", 0.0) / n_ops,
        "spark.tasks": tot.get("tasks", 0.0) / n_ops,
        "spark.build_jobs": build_jobs / n_ops,
        "spark.task_busy_frac": tot.get("run_ms", 0.0) / 1000.0 / (wall * cpus),
        "spark.shuffle_write_mb": tot.get("shuffle_write_b", 0.0) / 1e6 / n_ops,
        "spark.spill_mb": tot.get("spill_b", 0.0) / 1e6 / n_ops,
        "spark.failed_tasks": tot.get("failed_tasks", 0.0) / n_ops,
        "loaders.civic.build_s": layer_s("loaders.civic"),
        "operators.merge.build_s": layer_s("operators.merge"),
        "kb_io.upsert_s": layer_s("kb_io", "upsert_kb_table"),
        "kb_io.write_mb": kb_io_out / 1e6 / n_traced,
        "plans.filter_dsl.build_s": layer_s("plans.filter_dsl"),
        "operators.graph.build_s": layer_s("operators.graph"),
        "operators.graph.build_jobs": graph_jobs / n_traced,
        "kb.query_action_s": _median(
            [x for o in ops if o.fn in ("query", "get_vocabulary_term")
             for x in per_op[o.name]["action"]]
        ),
    }
    for fn in ("ngram_jaccard_pairs", "ngram_containment_pairs", "minhash_lsh_pairs",
               "connected_components", "multi_benchmark_contamination"):
        recs = [per_op[o.name] for o in ops if o.fn == fn]
        b = [x for r in recs for x in r["build"]]
        ac = [x for r in recs for x in r["action"]]
        out[f"operators.dedup.{fn}.build_s"] = _median(b)
        out[f"operators.dedup.{fn}.action_s"] = _median(ac)
    stats = {o.fn: per_op[o.name]["stats"][-1] for o in ops if per_op[o.name]["stats"]}
    out["operators.dedup.candidate_estimate"] = float(sum(
        stats.get(fn, {}).get("candidate_estimate", 0)
        for fn in ("ngram_jaccard_pairs", "ngram_containment_pairs")
    ))
    cc = stats.get("connected_components", {})
    out["operators.dedup.cc_rounds"] = float(cc.get("rounds", 0) + cc.get("star_rounds", 0))
    out["session.start_s"] = res["session_start_s"]
    out["kb.load_s"] = res["kb_load_s"]
    out["trace.pass_s"] = traced_pass
    out["trace.overhead_s"] = traced_pass - res["pass_s"]
    return out


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
