"""perfbench entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload kb_sync --seed 3 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` (inside the checkout), launches the
Spark driver (``driver.py``) as a child process from a working
directory that is NOT the checkout root, with ``PYTHONPATH`` pointing at
the checkout so the driver and its Python workers import
``graphkb_spark``; samples the resident memory of the child's whole
process tree (JVM, driver, Python workers); and prints as its last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A diagnostics line (N, percentiles, sample counts, input
sizes, load from other processes) precedes it.

Exits non-zero without a result line when the package is missing, the
run fails, or it would exceed its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("kb_sync", "corpus_dedup")
TIME_LIMIT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p80_s": "s",
    "peak_rss_mb": "MB", "ok_frac": "fraction",
}


def _tree(root: int, cpu_ticks: dict | None = None) -> list[int]:
    """``root`` and every descendant, from /proc parent links; records
    each one's user+system CPU ticks in ``cpu_ticks``."""
    kids: dict[int, list[int]] = {}
    ticks = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
        # (pid, start time) identifies a process across pid reuse
        ticks[int(d)] = (int(fields[11]) + int(fields[12]), int(fields[19]))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    if cpu_ticks is not None:
        cpu_ticks.update(((p, ticks[p][1]), ticks[p][0]) for p in out if p in ticks)
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _cpu_s() -> tuple[float, float]:
    """Machine-wide (busy, steal) CPU seconds since boot (/proc/stat);
    steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy / TICK, v[7] / TICK


def _load() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _alive(pid: int, start: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return int(fields[19]) == start and fields[0] != "Z"


def _stop_all(procs, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every (pid, start) to end on its own,
    then SIGKILL the rest and wait until they are gone."""
    deadline = time.monotonic() + grace_s
    while any(_alive(*p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid, start in procs:
        if _alive(pid, start):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    while any(_alive(*p) for p in procs):
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one seeded run of one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="local[N]; capped at nproc")
    ap.add_argument("--driver-memory", default="2g", help="SPARK_DRIVER_MEMORY for the run")
    a = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "graphkb_spark", "session.py")):
        print(f"perfbench: no graphkb_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = max(1, min(a.cpus, os.cpu_count() or 1))

    import gen

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    tmp = os.path.join(work, "tmp")
    cwd = os.path.join(work, "cwd")
    for d in (tmp, cwd, os.path.join(work, "spark-local")):
        os.makedirs(d)
    manifest = gen.generate(a.seed, inputs)

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=a.driver_memory,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("GRAPHKB_CHECKPOINT_MODE", None)
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", inputs, "--work", work, "--cpus", str(cpus), "--result", result,
    ]
    load0, (busy0, steal0) = _load(), _cpu_s()
    own_ticks: dict[tuple[int, int], int] = {}
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    peak = 0
    try:
        while child.poll() is None:
            if time.monotonic() - t_start > TIME_LIMIT_S:
                child.kill()
                print("perfbench: run exceeded its time limit", file=sys.stderr)
                return 3
            peak = max(peak, _rss_bytes(_tree(child.pid, own_ticks)))
            time.sleep(0.05)
    finally:
        # every process of the tree (the JVM and Python workers outlive
        # the driver briefly); none may survive the run
        child.wait()
        _stop_all([k for k in own_ticks if k[0] != child.pid], 20.0)
        load1, (busy1, steal1) = _load(), _cpu_s()
        if child.returncode != 0 or not os.path.exists(result):
            shutil.rmtree(work, ignore_errors=True)
    own_cpu = sum(own_ticks.values()) / TICK
    if child.returncode != 0 or not os.path.exists(result):
        print(f"perfbench: driver exited with {child.returncode}", file=sys.stderr)
        return 4
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    if a.trace:
        metrics = {
            k: {"value": v, "unit": _layer_unit(k)} for k, v in res["per_layer"].items()
        }
    else:
        vals = dict(
            setup_s=res["setup_s"], pass_s=res["pass_s"], op_p50_s=res["op_p50_s"],
            op_p80_s=res["op_p80_s"], peak_rss_mb=peak / 2**20,
            ok_frac=(attempted - failed) / attempted,
        )
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "master": f"local[{cpus}]", "nproc": os.cpu_count(),
        "driver_memory": a.driver_memory,
        "clients": 1, "loop": "closed",
        "passes": res["passes"], "ops_per_pass": res["ops_per_pass"],
        "pass_samples_s": res["pass_samples"], "setup_reps_s": res["setup_reps"],
        "op_wall_s": res["op_wall_s"],
        "op_samples": res["op_samples"],
        "peak_rss_mb": peak / 2**20,
        "load_avg_start": load0, "load_avg_end": load1,
        "other_cpu_s": (busy1 - busy0) - own_cpu, "own_cpu_s": own_cpu,
        "steal_cpu_s": steal1 - steal0,
        "setup_s": res["setup_s"], "warm_s": res["warm_s"], "timed_s": res["timed_s"],
        "inputs": manifest["tables"], "shares": manifest["shares"],
        "errors": res["errors"][:20],
    }
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
